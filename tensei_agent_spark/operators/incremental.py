"""Incremental near-duplicate detection: a persisted MinHash-LSH band
index, so a recurring crawl bands only its new documents and joins them
against everything seen before.

Scale notes: the index holds only (id, band, band_key) rows (narrow
parquet, band-partitioned); matching is an equi-join on (band,
band_key) — hash shuffle, broadcast when the increment is small, never
a driver-side set. Commit appends a new parquet file per run (object-
store friendly: append = add file, no rewrite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


class MinHashIndex:
    """Persisted banded MinHash-LSH index for INCREMENTAL near-dup
    detection — the daily-crawl pattern: signatures of everything seen
    so far live as a narrow parquet table of (id, band, band_key); a
    new batch is banded once, joined against the stored bands
    (new × old) and self-bucketed (new × new), then appended. The
    historical corpus text is never re-scanned, its signatures never
    recomputed — per increment the cost is O(|batch|) + one equi-join
    against the index.

    Determinism contract: band keys are a pure function of the text
    (md5 base hash path), so incremental results are bit-identical to
    running :func:`~.dedup.minhash_lsh_pairs` over the full corpus and
    keeping the pairs that touch the new batch — asserted in
    tests/test_incremental.py.

    At 100 TB the index is ~|corpus| × bands rows of (long, int,
    32-char key) — partition the parquet by ``band`` so the new×old
    join prunes to matching band partitions and shuffles only band-key
    hashes.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "doc_id",
        k: int = 8,
        num_hashes: int = 16,
        bands: int = 4,
        hash_fn: str = "md5",
    ):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.k = k
        self.num_hashes = num_hashes
        self.bands = bands
        self.hash_fn = hash_fn

    def _params(self) -> dict:
        return {
            "id_col": self.id_col,
            "k": self.k,
            "num_hashes": self.num_hashes,
            "bands": self.bands,
            "hash_fn": self.hash_fn,
        }

    def _meta_path(self) -> str:
        # SIBLING prefix (…/idx_params next to …/idx), so the band scan
        # of self.path never sees it and it works on any filesystem
        return self.path.rstrip("/") + "_params"

    def _read_params(self) -> dict | None:
        """Stored fingerprint, or None before the first commit. Probed
        through Spark's reader — like stored_bands, NOT the local
        filesystem, so the guard also fires on object-store URIs."""
        from pyspark.errors import AnalysisException

        try:
            row = self.spark.read.parquet(self._meta_path()).first()
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" not in str(exc):
                raise
            return None
        return {k: row[k] for k in self._params()}

    def _check_params(self) -> None:
        """Band keys are only comparable under IDENTICAL signature
        parameters; an index opened with different (k, num_hashes,
        bands, hash_fn) would join incompatible digests and silently
        return garbage matches. The parameters are fingerprinted next
        to the data on first commit and validated on every use."""
        stored = self._read_params()
        if stored is not None and stored != self._params():
            raise ValueError(
                f"MinHashIndex at {self.path} was built with "
                f"{stored}; refusing to mix with {self._params()}"
            )

    def _write_params(self) -> None:
        if self._read_params() is None:
            self.spark.createDataFrame([self._params()]).coalesce(1).write.mode(
                "overwrite"
            ).parquet(self._meta_path())

    def stored_bands(self, like: DataFrame | None = None) -> DataFrame:
        """The persisted index, or an empty frame before the first
        commit. Existence is probed through Spark's reader — NOT
        ``os.path.exists``, which is always False for object-store URIs
        and would silently drop every new-vs-old match. ``like``
        (a band frame, e.g. the new batch's) supplies the id column
        type for the empty frame so non-long doc ids work from the
        very first increment."""
        from pyspark.errors import AnalysisException

        try:
            return self.spark.read.parquet(self.path)
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" not in str(exc):
                raise
            from pyspark.sql.types import IntegerType, StringType

            id_type = (
                like.schema[self.id_col].dataType
                if like is not None
                else LongType()
            )
            return self.spark.createDataFrame(
                [],
                StructType(
                    [
                        StructField(self.id_col, id_type),
                        StructField("band", IntegerType()),
                        StructField("band_key", StringType()),
                    ]
                ),
            )

    def _band_signatures(self, docs: DataFrame, text_col: str) -> DataFrame:
        from .dedup import band_signatures

        return band_signatures(
            docs,
            text_col=text_col,
            id_col=self.id_col,
            k=self.k,
            num_hashes=self.num_hashes,
            bands=self.bands,
            hash_fn=self.hash_fn,
        )

    def match_new(
        self, new_docs: DataFrame, text_col: str = "text"
    ) -> tuple[DataFrame, DataFrame]:
        """(pairs, new_bands): near-dup candidate pairs touching the new
        batch, and the batch's band rows (localCheckpoint-ed — commit
        appends to the index path, and Spark refreshes any cache whose
        plan reads a path it writes, so a merely-persisted frame would
        recompute against the post-commit index).

        ``pairs`` = new×old (equi-join on (band, band_key) against the
        stored index) ∪ new×new (in-bucket combinations), distinct,
        id_a < id_b.
        """
        from .dedup import bucket_pairs

        self._check_params()
        new_bands = self._band_signatures(new_docs, text_col).localCheckpoint(
            eager=True
        )
        old = self.stored_bands(like=new_bands)
        vs_old = (
            new_bands.join(
                old.withColumnRenamed(self.id_col, "_old_id"),
                ["band", "band_key"],
            )
            .filter(F.col(self.id_col) != F.col("_old_id"))
            .select(
                F.least(self.id_col, "_old_id").alias("id_a"),
                F.greatest(self.id_col, "_old_id").alias("id_b"),
            )
        )
        in_bucket = bucket_pairs(new_bands, self.id_col)
        return vs_old.union(in_bucket).distinct(), new_bands

    def commit(self, new_bands: DataFrame) -> None:
        """Append the batch's band rows to the index (append-only =
        add-file on object stores; band-partitioned for join pruning).
        The parameter fingerprint lands AFTER the data (an underscore-
        prefixed sidecar, invisible to the parquet reader) so a fresh
        path never looks like an empty-but-parameterized index."""
        self._check_params()
        new_bands.write.mode("append").partitionBy("band").parquet(self.path)
        self._write_params()

"""Recipe executor: CompiledPlan → DataFrame pipelines → sinks.

This is the Spark re-expression of the reference's Processor FSM
(``processor/Processor.scala:144-307`` + ``RecipesWorker`` /
``RecipeWorker`` / ``MappingWorker`` / ``FetcherWorker``): where the
reference loops row-by-row pulling cells through actor mailboxes, we
compile each recipe to ONE declarative DataFrame expression and let
Catalyst/Tungsten execute it columnar and distributed.

Per-recipe semantics (SURVEY.md §3.1):

- sources used by the recipe are combined by **mapping-key left join**
  (``MappingOneToOneWorker.scala:232-287``) when ``mapping_key`` is set,
  else by **positional row alignment** (``RecipeWorker.scala:332-394``);
  a single-source recipe is just that source;
- each mapping becomes target column expressions: ``one_to_one`` zips
  source↔target with per-column chains
  (``MappingOneToOneWorker.scala:199-216``); ``all_to_all`` feeds ALL
  source values through the chain once per target column
  (``MappingAllToAllWorker.scala:282-354``);
- **atomic** chains run first, per source element (fetch-time,
  ``FetcherWorker.scala:205-235``), then the mapping chain
  (``TransformationWorker.scala:186-237``);
- ``limit`` ≙ target ``seq max`` — the reference's
  ``maxLoops = min(sourceRows, targetMax)`` falls out of join + limit;
- recipes run in FK topological order; a target whose spec declares
  ``foreign_keys`` gets its FK columns remapped through the parent's
  (natural → generated) key map (``FetchForeignKeyValue`` +
  ``AutoIncrementValueBuffer``), generated keys being deterministic
  ``sequential_id`` values — see the distribution caveat in
  ``functions/transformers.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.transformers import apply_chain, sequential_id
from ..operators.joins import mapping_key_join, remap_foreign_keys
from ..operators.windows import row_index
from .plan import CompiledPlan, compile_plan
from .spec import Mapping, Pipeline, Recipe


def _qual(source: str, column: str) -> str:
    return f"{source}__{column}"


def _qualified(df: DataFrame, source: str) -> DataFrame:
    """Prefix every column with the source name so multi-source recipes
    never collide (≙ ElementReference(dfasdlId, elementId) addressing)."""
    return df.select(*[F.col(c).alias(_qual(source, c)) for c in df.columns])


def combine_sources(
    recipe: Recipe, frames: dict[str, DataFrame]
) -> tuple[DataFrame, dict[str, str]]:
    """Join/zip the recipe's sources into one frame.

    Returns (frame, resolver) where resolver maps source name → column
    prefix used in the frame.
    """
    used = []
    for m in recipe.mappings:
        for ref in m.sources:
            if ref.source not in used:
                used.append(ref.source)
    if not used:
        raise ValueError(f"recipe {recipe.name!r} references no sources")

    if len(used) == 1:
        return _qualified(frames[used[0]], used[0]), {used[0]: used[0]}

    if recipe.mapping_key is not None:
        # Value join: first source drives, others are left-joined lookups
        # on the shared key column (broadcast — lookup sides are
        # dimension-shaped in every reference use case; AQE upgrades or
        # demotes as stats dictate).
        driving = used[0]
        out = _qualified(frames[driving], driving)
        key = _qual(driving, recipe.mapping_key)
        for other in used[1:]:
            # Join on a COPY of the lookup key, keeping the qualified
            # original: a mapping may reference the key from the lookup
            # source (ColumnRef(other, mapping_key)), and on a left-join
            # miss its value must be NULL — renaming the key away would
            # make that reference unresolvable.
            other_key = _qual(other, recipe.mapping_key)
            rhs = _qualified(frames[other], other).withColumn(
                key, F.col(other_key)
            )
            out = mapping_key_join(out, rhs, key, how="left", broadcast_right=True)
        return out, {s: s for s in used}

    # Positional row alignment over each source's explicit total order.
    out = None
    for src in used:
        order = recipe.order_by.get(src) or [frames[src].columns[0]]
        qdf = _qualified(frames[src], src)
        indexed = row_index(qdf, [_qual(src, c) for c in order], "_rn")
        # Inner join on the index: the min(N,M) row cap.
        out = indexed if out is None else out.join(indexed, "_rn", "inner")
    return out.drop("_rn"), {s: s for s in used}


def mapping_columns(m: Mapping, resolver: dict[str, str]) -> list[Column]:
    """Compile one MappingTransformation to aliased Column expressions."""
    src_cols = []
    for ref in m.sources:
        c = F.col(_qual(resolver[ref.source], ref.column))
        if m.atomic:
            c = apply_chain(m.atomic, [c])[0]
        src_cols.append(c)

    if m.mode == "one_to_one":
        out = []
        for c, tgt in zip(src_cols, m.targets):
            r = apply_chain(m.transformers, [c]) if m.transformers else [c]
            out.append(r[0].alias(tgt))
        return out
    # all_to_all: the full source list feeds the chain once per target.
    out = []
    for tgt in m.targets:
        r = apply_chain(m.transformers, src_cols) if m.transformers else src_cols
        out.append(r[0].alias(tgt))
    return out


def _vancode_frame(
    df: DataFrame, srcs: list[str], target: str, params: dict
) -> DataFrame:
    """FRAME-LEVEL DrupalVanCodeTransformer: the thread code of a
    comment depends on ALL rows of its article (sibling numbering +
    the parent's code), so it cannot be a per-row column chain. The
    codes are computed per article partition and joined back on the
    unique comment id."""
    from ..functions.transformers import drupal_vancode

    id_c, art_c, par_c = srcs
    codes = drupal_vancode(
        df.select(id_c, art_c, par_c), id_c, art_c, par_c, out_col=target,
        **params,
    )
    return df.join(F.broadcast(codes.select(id_c, target)), id_c, "left")


#: Transformers whose semantics are a function of the WHOLE row set,
#: not one row — the reference runs them as stateful actors over the
#: buffered sequence (DrupalVanCodeTransformer keeps per-article
#: counters). Each entry: fn(frame, qualified_source_cols, target_col,
#: params) -> frame with the target column added.
FRAME_TRANSFORMERS = {
    "drupal_vancode": _vancode_frame,
}


def build_recipe_frame(
    recipe: Recipe, frames: dict[str, DataFrame]
) -> DataFrame:
    """One recipe → one DataFrame in target column order."""
    combined, resolver = combine_sources(recipe, frames)
    cols: list[Column] = []
    deferred: list[Mapping] = []
    for m in recipe.mappings:
        if m.transformers and m.transformers[0][0] in FRAME_TRANSFORMERS:
            if len(m.transformers) != 1 or m.atomic or len(m.targets) != 1:
                raise ValueError(
                    f"frame-level transformer {m.transformers[0][0]!r} must "
                    "be the mapping's only transformer with one target"
                )
            deferred.append(m)
        else:
            cols.extend(mapping_columns(m, resolver))
    if deferred:
        # The deferred transforms need their (qualified) source columns
        # alive after the projection; they are dropped once applied.
        helper: list[str] = []
        for m in deferred:
            for ref in m.sources:
                qc = _qual(resolver[ref.source], ref.column)
                if qc not in helper:
                    helper.append(qc)
        out = combined.select(*cols, *[F.col(c) for c in helper])
        for m in deferred:
            name, params = m.transformers[0]
            srcs = [_qual(resolver[r.source], r.column) for r in m.sources]
            out = FRAME_TRANSFORMERS[name](out, srcs, m.targets[0], dict(params))
        out = out.drop(*helper)
    else:
        out = combined.select(*cols)
    if recipe.limit is not None:
        out = out.limit(recipe.limit)
    return out


def run_pipeline(
    spark: SparkSession,
    pipeline_or_plan: Pipeline | CompiledPlan,
    source_frames: dict[str, DataFrame] | None = None,
    write: bool = True,
    metrics: dict[str, dict] | None = None,
) -> dict[str, DataFrame]:
    """Execute the whole job: read sources once, run recipes in FK
    order, remap FKs through generated-key maps, write targets.

    ``source_frames`` lets callers inject pre-built DataFrames (tests,
    or non-spec sources); missing ones are read from the spec. Returns
    the final frame per recipe (post FK-remap) for inspection.

    ``metrics``: pass a dict to collect per-recipe run accounting —
    ``{recipe: {"rows_processed": n, "null_cells": n}}`` — via
    ``DataFrame.observe``, which piggybacks the aggregates on the write
    job itself (no second scan, no driver materialization). This is the
    Spark-native form of the reference's progress accounting (progress
    ticks every 5000 rows, ``tensei.conf:31``), and like the reference
    it counts rows PROCESSED by the recipe, upstream of the writer's
    unique-column dedup filter. Only populated when ``write=True``:
    observation results exist once an action runs.
    """
    plan = (
        pipeline_or_plan
        if isinstance(pipeline_or_plan, CompiledPlan)
        else compile_plan(pipeline_or_plan)
    )
    p = plan.pipeline

    # Imported here, not at module top: sources/__init__ imports
    # plans.spec, so importing tensei_agent_spark.sources FIRST would
    # re-enter this module through plans/__init__ before sources
    # finished initializing (circular import).
    from ..sources import read_source

    frames = dict(source_frames or {})
    needed = {ref.source for r in p.recipes for m in r.mappings for ref in m.sources}
    for s in p.sources:
        if s.name in needed and s.name not in frames:
            frames[s.name] = read_source(spark, s)

    key_maps: dict[str, DataFrame] = {}  # target name → (old_key,new_key)
    results: dict[str, DataFrame] = {}

    for recipe in plan.ordered_recipes:
        target = p.target(recipe.target)
        out = build_recipe_frame(recipe, frames)

        # Column order follows the TARGET's declared element order, not
        # the cookbook's mapping order: the reference writer walks the
        # target DFASDL tree (FileWriterActor emits elements in
        # document order), so a recipe may list its mappings in any
        # order without changing the written layout. Columns the target
        # does not declare (derived/surrogate) keep their build order
        # at the end.
        declared = [f.name for f in target.fields if f.name in out.columns]
        if declared:
            # Backtick-quote: target names may contain dots (nested
            # JSON paths) and a bare string would parse as a struct
            # field reference.
            def _q(c: str) -> Column:
                return F.col("`" + c.replace("`", "``") + "`")

            out = out.select(
                *[_q(c) for c in declared],
                *[_q(c) for c in out.columns if c not in declared],
            )

        # Parent-side: generate deterministic surrogate keys for
        # auto-increment columns and publish the (natural → generated)
        # map for child recipes (≙ AutoIncrementValueBuffer). Database
        # targets only (that's where the reference's identity columns
        # live) — or explicit opt-in via natural_key. A FILE target
        # writes a nullified auto-inc column as empty, not generated
        # (copy/target-02.csv's leading commas).
        generate_keys = target.format == "jdbc" or "natural_key" in target.options
        auto_fields = (
            [f for f in target.fields if f.auto_increment]
            if generate_keys
            else []
        )
        for af in auto_fields:
            natural = target.options.get("natural_key") or out.columns[0]
            start = int(target.options.get("auto_increment_start", 1))
            keyed = sequential_id(out, [natural], start=start, out_col=af.name)
            key_maps[target.name] = keyed.select(
                F.col(natural).alias("old_key"), F.col(af.name).alias("new_key")
            )
            out = keyed

        # Child-side: rewrite FK columns through the parent's key map.
        for fk_col, (parent_target, _parent_col) in target.foreign_keys.items():
            if parent_target in key_maps and fk_col in out.columns:
                out = remap_foreign_keys(out, key_maps[parent_target], fk_col)

        results[recipe.name] = out
        if write:
            # Imported here, not at module top: sinks/__init__ imports
            # plans.spec, so a top-level import would make the package
            # initialization order depend on which module loads first.
            from ..sinks import write_target

            obs = None
            if metrics is not None:
                from pyspark.sql import Observation

                obs = Observation(f"recipe_{recipe.name}")
                null_cells = None
                for c in out.columns:
                    term = F.sum(F.col(c).isNull().cast("long"))
                    null_cells = term if null_cells is None else null_cells + term
                out = out.observe(
                    obs,
                    F.count(F.lit(1)).alias("rows_processed"),
                    null_cells.alias("null_cells"),
                )
            write_target(out, target)
            if obs is not None:
                metrics[recipe.name] = obs.get
    return results

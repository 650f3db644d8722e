"""Transformer registry — every reference transformer as a Column builder.

The reference applies transformer chains to *the list of source values
for one output cell* (``transformers/BaseTransformer.scala:38-101``;
chains compose sequentially per ``TransformationWorker.scala:186-237``).
Spark equivalent: each transformer is a function
``(cols: list[Column], **params) -> list[Column]`` — most collapse the
list to one Column; chains compose by function application. Everything
stays a JVM Column expression (whole-stage codegen); the only Python
escape hatches are ``replace`` with a first-N count and the Drupal
vancode generator, both Arrow-batched pandas UDFs.

Each builder's docstring cites the reference class it reproduces.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..operators.windows import row_index

Builder = Callable[..., list[Column]]

TRANSFORMERS: dict[str, Builder] = {}


def register(name: str):
    def deco(fn: Builder):
        TRANSFORMERS[name] = fn
        return fn

    return deco


def build(name: str, cols: Sequence[Column], **params) -> list[Column]:
    """Instantiate one transformer (reference loads classes by name at
    runtime, ``TransformationWorker.scala:259-268``)."""
    return TRANSFORMERS[name](list(cols), **params)


def apply_chain(
    chain: Sequence[tuple[str, dict]], cols: Sequence[Column]
) -> list[Column]:
    """Sequential composition of transformers over a value list."""
    out = list(cols)
    for name, params in chain:
        out = build(name, out, **params)
    return out


# --- string transformers ---------------------------------------------------


@register("concat")
def concat(cols, separator: str = "", prefix: str = "", suffix: str = ""):
    """transformers/Concat.scala — join stringified inputs with
    separator, wrap in prefix/suffix."""
    joined = F.concat_ws(separator, *[c.cast("string") for c in cols])
    return [F.concat(F.lit(prefix), joined, F.lit(suffix))]


@register("split")
def split(cols, pattern: str = ",", limit: int = -1, selected: Sequence[int] = (0,)):
    """transformers/Split.scala — regex-split the (concatenated) input,
    trim parts, select the given 0-based indices (one output per index).

    ``limit`` is the reference's semantics — keep only the FIRST N
    parts of the full split (``parts.slice(0, limit)``,
    ``Split.scala:69-71``) — NOT Java ``String.split``'s limit, which
    stops splitting and leaves the remainder glued to the last part.
    """
    src = cols[0] if len(cols) == 1 else F.concat_ws("", *cols)
    parts = F.split(src, pattern, -1)
    if int(limit) > 0:
        parts = F.slice(parts, 1, int(limit))
    # try_element_at: under ANSI (Spark 4 default) element_at THROWS on
    # a ragged row with fewer parts than the selected index — one bad
    # row must yield NULL (the reference's behavior), not kill the job.
    return [F.trim(F.try_element_at(parts, F.lit(i + 1))) for i in selected]


@register("replace")
def replace(cols, search: Sequence[str] = (), replace: str = "", count: int = 0):
    """transformers/Replace.scala — regex replace each search pattern;
    count==0 → all occurrences (JVM regexp_replace); count>0 → first N
    (Arrow-batched pandas UDF, the slow path)."""
    out = []
    for c in cols:
        col = c.cast("string")
        if count <= 0:
            for pat in search:
                col = F.regexp_replace(col, pat, replace)
        else:
            pats, repl, n = list(search), replace, count

            from pyspark.sql.functions import pandas_udf

            @pandas_udf("string")
            def _replace_n(s):  # pragma: no cover - exercised via Spark
                def one(v):
                    if v is None:
                        return None
                    for p in pats:
                        v = re.sub(p, repl, v, count=n)
                    return v

                return s.map(one)

            col = _replace_n(col)
        out.append(col)
    return out


@register("lower_or_upper")
def lower_or_upper(cols, perform: str = "lower", locale: str = ""):
    """transformers/LowerOrUpper.scala — lower | upper | firstlower |
    firstupper (first char changed, rest untouched)."""
    out = []
    for c in cols:
        s = c.cast("string")
        if perform == "lower":
            out.append(F.lower(s))
        elif perform == "upper":
            out.append(F.upper(s))
        elif perform == "firstlower":
            out.append(F.concat(F.lower(F.substring(s, 1, 1)), s.substr(F.lit(2), F.length(s))))
        elif perform == "firstupper":
            out.append(F.concat(F.upper(F.substring(s, 1, 1)), s.substr(F.lit(2), F.length(s))))
        else:
            raise ValueError(f"lower_or_upper: unknown perform={perform!r}")
    return out


@register("empty_string")
def empty_string(cols):
    """transformers/EmptyString.scala — constant empty string."""
    return [F.lit("")]


@register("nullify")
def nullify(cols):
    """transformers/Nullify.scala — constant NULL."""
    return [F.lit(None)]


@register("merge_and_extract_by_regex")
def merge_and_extract_by_regex(
    cols, regexp: str = ".*", groups: Sequence[int] = (), filler: str = ""
):
    """transformers/MergeAndExtractByRegEx.scala — concat inputs, match
    the regex, join the selected capture groups with the filler."""
    src = F.concat_ws("", *[c.cast("string") for c in cols])
    if not groups:
        return [F.regexp_extract(src, regexp, 0)]
    parts = [F.regexp_extract(src, regexp, g) for g in groups]
    return [F.concat_ws(filler, *parts)]


# --- constants / casts -----------------------------------------------------


@register("overwrite")
def overwrite(cols, type: str = "string", value: str | None = None):
    """transformers/Overwrite.scala — typed constant; value='now' yields
    current date/time/timestamp for temporal types.

    A missing/empty value takes the reference's PER-TYPE default
    (``Overwrite.scala:44-52``): string "" / long 0 / bigdecimal 0 /
    date 1970-01-01 / time 00:00:00 / datetime 1970-01-01 00:00:00 /
    byte empty — used by the WP2Joomla cookbook to blank-out datetime
    columns (``WP2Joomla.scala:193-197`` expects the epoch, not NULL).
    Only type='none' yields NULL.
    """
    t = type.lower()
    if t == "none":
        return [F.lit(None)]
    if value is None or value == "":
        value = {
            "bigdecimal": "0",
            "byte": "",
            "date": "1970-01-01",
            "datetime": "1970-01-01 00:00:00",
            "long": "0",
            "string": "",
            "time": "00:00:00",
        }[t]
    # 'now' is special ONLY for temporal types — a string/long constant
    # that happens to be the word 'now' must stay a literal. The
    # reference lowercases before comparing (Overwrite.scala's
    # value.toLowerCase(Locale.ROOT) == "now"), so 'NOW'/'Now' count.
    # isinstance guard: a non-string value (numeric default passed
    # programmatically) must stay a literal, not raise AttributeError
    # on .lower() (ADVICE r9).
    if (
        isinstance(value, str)
        and value.lower() == "now"
        and t in ("date", "datetime", "time")
    ):
        now = {
            "date": F.current_date(),
            "datetime": F.current_timestamp(),
            "time": F.date_format(F.current_timestamp(), "HH:mm:ss"),
        }
        return [now[t]]
    if t == "byte":
        # Reference parses space-separated hex pairs into bytes
        # (Overwrite.scala:82-86); the value is a plan-time literal so
        # decode driver-side, no runtime cost.
        return [F.lit(bytes(int(h, 16) for h in value.split()))]
    cast = {
        "bigdecimal": "decimal(38,10)",
        "date": "date",
        "datetime": "timestamp",
        "long": "long",
        "string": "string",
        "time": "string",
    }[t]
    return [F.lit(value).cast(cast)]


@register("cast_string_to_long")
def cast_string_to_long(cols):
    """transformers/CastStringToLong.scala — ``^-?\\d+$`` → long else
    NULL. try_cast (not cast): ANSI mode is Spark 4's default and a
    plain cast would throw on non-numeric input; the reference nulls."""
    return [F.trim(c.cast("string")).try_cast("long") for c in cols]


# --- temporal --------------------------------------------------------------


@register("date_converter")
def date_converter(cols, timezone: str = "UTC", format: str = "yyyy-MM-dd HH:mm:ss"):
    """transformers/DateConverter.scala — string (in `format`) or epoch
    millis → timestamp, shifted into `timezone`."""
    out = []
    for c in cols:
        # try_to_timestamp: under ANSI a malformed date string would
        # abort the job; the reference substitutes a default on parse
        # failure — NULL here (defaults apply downstream via coalesce).
        ts = F.when(
            c.cast("string").rlike(r"^-?\d+$"),
            F.timestamp_millis(c.cast("long")),
        ).otherwise(F.try_to_timestamp(c.cast("string"), F.lit(format)))
        if timezone and timezone != "UTC":
            ts = F.from_utc_timestamp(ts, timezone)
        out.append(ts)
    return out


@register("date_type_converter")
def date_type_converter(cols, target: str = "date"):
    """transformers/DateTypeConverter.scala — convert among
    date/time/datetime. Spark has no TIME type: times become HH:mm:ss
    strings (documented divergence)."""
    t = target.lower()
    out = []
    for c in cols:
        if t == "date":
            out.append(c.cast("date"))
        elif t == "datetime":
            out.append(c.cast("timestamp"))
        elif t == "time":
            out.append(F.date_format(c.cast("timestamp"), "HH:mm:ss"))
        else:
            raise ValueError(f"date_type_converter: unknown target={target!r}")
    return out


@register("date_value_to_string")
def date_value_to_string(cols, format: str = "yyyy-MM-dd HH:mm:ss"):
    """transformers/DateValueToString.scala — temporal → formatted string."""
    return [F.date_format(c, format) for c in cols]


def _as_epoch_long(c: Column) -> Column:
    """The reference's transformers dispatch on the runtime VALUE
    (``TimestampCalibrate.scala:50-56`` stringifies and ``toLong``s
    anything numeric; temporal values arrive as their epoch millis from
    ``DateConverter.convertDate``). Spark columns are statically typed,
    so replicate the dispatch through the string form: digit strings
    are already epoch numbers, anything else parses as a timestamp and
    takes its MILLIS — a timestamp must never go through a bare
    ``cast(long)``, which yields epoch SECONDS and silently divides the
    calibration by 1000."""
    s = F.trim(c.cast("string"))
    return F.when(s.rlike(r"^-?\d+$"), s.cast("long")).otherwise(
        F.unix_millis(F.try_to_timestamp(s))
    )


@register("timestamp_calibrate")
def timestamp_calibrate(cols, perform: str = "add"):
    """transformers/TimestampCalibrate.scala — epoch seconds⇄millis:
    add → ×1000, reduce → ÷1000 (integer). Temporal inputs contribute
    their epoch millis (see ``_as_epoch_long``) — the DateConverter →
    TimestampCalibrate(reduce) cookbook chain lands epoch seconds."""
    if perform == "add":
        return [(_as_epoch_long(c) * 1000).alias("ts") for c in cols]
    return [(_as_epoch_long(c) / 1000).cast("long") for c in cols]


@register("timestamp_adjuster")
def timestamp_adjuster(cols, perform: str = "add"):
    """transformers/atomic/TimestampAdjuster.scala — same ×1000/÷1000
    applied at fetch time (atomic transformation)."""
    return timestamp_calibrate(cols, perform)


@register("timestamp_offset")
def timestamp_offset(cols, offset: str = "+00:00", mode: str = "convert"):
    """transformers/TimestampOffsetTransformer.scala — convert: shift the
    instant into the offset zone; keep: relabel (shift the other way)."""
    out = []
    for c in cols:
        ts = c.cast("timestamp")
        if mode == "convert":
            out.append(F.from_utc_timestamp(ts, f"GMT{offset}"))
        else:  # keep the local clock time, change the instant
            out.append(F.to_utc_timestamp(ts, f"GMT{offset}"))
    return out


# --- numeric / conditional -------------------------------------------------

_COND_RE = re.compile(r"^\s*x\s*(<=|>=|==|!=|<|>|=)\s*(-?\d+(?:\.\d+)?)\s*$")
_ARITH_RE = re.compile(r"^\s*x\s*=\s*x\s*([+\-*/])\s*(-?\d+(?:\.\d+)?)\s*$")
# Reversed operand order ('x=42-x'): for '-' and '/' the constant is
# the LEFT operand (IfThenElseNumeric.scala:186,216-219).
_ARITH_REV_RE = re.compile(r"^\s*x\s*=\s*(-?\d+(?:\.\d+)?)\s*([+\-*/])\s*x\s*$")
# 'x=42' or the bare constant '42' (regex_const / regex_func3,
# IfThenElseNumeric.scala:184,187 — the Joomla2WP cookbook passes the
# else branch as plain "0").
_CONST_RE = re.compile(r"^\s*(?:x\s*=\s*)?(-?\d+(?:\.\d+)?)\s*$")


def _parse_branch(rule: str, x: Column) -> Column:
    """Parse the reference's tiny rule language ('x=x+3', 'x=42', '42',
    'x=42+x')."""
    m = _ARITH_RE.match(rule)
    if m:
        op, k = m.group(1), F.lit(float(m.group(2)))
        return {"+": x + k, "-": x - k, "*": x * k, "/": x / k}[op]
    m = _ARITH_REV_RE.match(rule)
    if m:
        k, op = F.lit(float(m.group(1))), m.group(2)
        return {"+": x + k, "-": k - x, "*": x * k, "/": k / x}[op]
    m = _CONST_RE.match(rule)
    if m:
        return F.lit(float(m.group(1)))
    raise ValueError(f"if_then_else_numeric: cannot parse branch {rule!r}")


@register("if_then_else_numeric")
def if_then_else_numeric(
    cols,
    condition: str = "x>0",
    then: str = "x=x",
    otherwise: str | None = None,
    format: str = "dec",
):
    """transformers/IfThenElseNumeric.scala — numeric conditional with
    the reference's micro-DSL: condition 'x>42', branches 'x=x+3' /
    'x=7'. format='num' rounds HALF_UP to long; 'dec' stays decimal."""
    m = _COND_RE.match(condition)
    if not m:
        raise ValueError(f"if_then_else_numeric: bad condition {condition!r}")
    op, k = m.group(1), F.lit(float(m.group(2)))
    out = []
    for c in cols:
        x = c.cast("double")
        cond = {
            "<": x < k, ">": x > k, "<=": x <= k, ">=": x >= k,
            "==": x == k, "=": x == k, "!=": x != k,
        }[op]
        then_c = _parse_branch(then if then != "x=x" else "x=x+0", x)
        else_c = _parse_branch(otherwise, x) if otherwise else x
        r = F.when(cond, then_c).otherwise(else_c)
        if format == "num":
            r = F.round(r, 0).cast("long")  # HALF_UP, like the reference
        out.append(r)
    return out


@register("extract_biggest_value")
def extract_biggest_value(cols):
    """transformers/ExtractBiggestValue.scala — max numeric of the
    inputs; for non-numeric inputs the reference keeps the longest
    string (use 'extract_longest_string' for that)."""
    if len(cols) == 1:
        return list(cols)
    return [F.greatest(*cols)]


@register("extract_longest_string")
def extract_longest_string(cols):
    """String arm of ExtractBiggestValue: the longest input string."""
    arr = F.array(*[c.cast("string") for c in cols])
    # sort by (length, value) descending via a struct sort, take first
    structs = F.transform(arr, lambda s: F.struct(F.length(s).alias("l"), s.alias("v")))
    return [F.array_sort(structs)[F.size(structs) - 1]["v"]]


# --- JSON ------------------------------------------------------------------


@register("merge_to_json")
def merge_to_json(cols, labels: Sequence[str] = ()):
    """transformers/MergeToJson.scala — N labelled inputs → one JSON
    object string."""
    fields = [c.alias(l) for c, l in zip(cols, labels)]
    return [F.to_json(F.struct(*fields))]


@register("to_json")
def to_json_t(cols, label: str = "value"):
    """transformers/ToJson.scala — single value → JSON object string."""
    return [F.to_json(F.struct(cols[0].alias(label)))]


# --- generators ------------------------------------------------------------


@register("box_data_into_list")
def box_data_into_list(cols):
    """transformers/atomic/BoxDataIntoList.scala — wrap the inputs into
    one array value (feeds downstream multi-arg transformers)."""
    return [F.array(*[c.cast("string") for c in cols])]


@register("id_uuid")
def id_uuid(cols):
    """transformers/IDTransformer.scala (type=UUID) — random UUID per
    row. Non-deterministic by nature (rows-only correctness check)."""
    return [F.expr("uuid()")]


EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?\d[\d-]{7,}\d"


@register("redact_pii")
def redact_pii(cols, email: bool = True, phone: bool = True):
    """Beyond-reference: PII scrubbing for training corpora — masks
    email addresses and phone-shaped digit runs with typed placeholders.
    Pure ``regexp_replace`` chain (JVM-side, replace-all); the patterns
    use only RE2-compatible syntax so the DuckDB oracle applies the
    identical regexes."""
    out = []
    for c in cols:
        if email:
            c = F.regexp_replace(c, EMAIL_RE, "[EMAIL]")
        if phone:
            c = F.regexp_replace(c, PHONE_RE, "[PHONE]")
        out.append(c)
    return out


def sequential_id(df, order_cols: Sequence[str], start: int = 1, out_col: str = "seq_id"):
    """transformers/IDTransformer.scala (type=long) — sequential id.

    The reference uses a central mutable counter actor
    (``generators/IDGenerator.scala:40-100``); a distributed engine
    needs an explicit total order instead, numbered by the distributed
    row index (no single-partition window).
    """
    return row_index(df, order_cols, out_col, start=start)


def drupal_vancode(df, id_col: str, article_col: str, parent_col: str, out_col: str = "vancode"):
    """transformers/DrupalVanCodeTransformer.scala — Drupal comment
    'vancode': per article, comments numbered in id order; children
    append their sibling number to the parent's code. Base-36 digits,
    '/'-terminated (``generators/DrupalVanCodeGenerator.scala``).

    Distributed as applyInPandas per article (threads are article-local,
    so grouping by article is the natural partitioning; article groups
    fit in memory for any realistic comment thread).
    """
    import pandas as pd

    schema = ", ".join(
        [f"{id_col} long", f"{article_col} long", f"{parent_col} long", f"{out_col} string"]
    )

    def _b36(n: int) -> str:
        digits = "0123456789abcdefghijklmnopqrstuvwxyz"
        if n == 0:
            return "0"
        out = ""
        while n:
            out = digits[n % 36] + out
            n //= 36
        return out

    def per_article(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        codes: dict[int, str] = {}
        sibling_count: dict[int, int] = {}
        out = []
        for _, row in pdf.iterrows():
            parent = row[parent_col]
            parent_code = codes.get(parent, "") if parent and parent > 0 else ""
            nth = sibling_count.get(parent or 0, 0) + 1
            sibling_count[parent or 0] = nth
            code = parent_code + _b36(nth).rjust(2, "0")
            codes[row[id_col]] = code
            out.append(code + "/")
        pdf[out_col] = out
        return pdf[[id_col, article_col, parent_col, out_col]]

    return df.groupBy(article_col).applyInPandas(per_article, schema)

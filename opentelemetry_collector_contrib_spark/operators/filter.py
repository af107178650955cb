"""Filter operators.

Reference:
- filterprocessor (processor/filterprocessor/logs.go:67-105; config
  config.go:85-103,185-257): drop records matching OTTL conditions, or the
  legacy include/exclude matchers. The include/exclude composition is
  EXACTLY `NOT(include) OR exclude` → skip (drop) — see
  internal/filter/filterlog/filterlog.go:30-51 (include→Not, exclude→Or).
- stanza filter transformer (transformer/filter/config.go:44-45): drop on
  expr match, plus `drop_ratio` sampling — made deterministic here via
  hash-ratio instead of math/rand.
- probabilistic sampler (processor/probabilisticsamplerprocessor/
  logsprocessor.go:124-168): FNV hash of a source attribute + seed,
  keep if below percentage threshold. Deterministic by design — we mirror
  with xxhash64 (documented substitution; FNV isn't built into Spark and
  a Python reimplementation would leave codegen).

All realized as `df.filter(...)` so Catalyst pushes them into the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def filter_drop(df: DataFrame, drop_cond: Column) -> DataFrame:
    """filterprocessor core: DROP rows where condition true (NULL→keep,
    matching OTTL ignore-mode error semantics logs.go:86-99)."""
    return df.filter(~F.coalesce(drop_cond, F.lit(False)))


def filter_ottl(
    df: DataFrame,
    conditions: list[str],
    path_map: dict | None = None,
    error_mode: str = "ignore",
    path_types: dict | None = None,
    logic_op: str = "or",
) -> DataFrame:
    """filterprocessor OTTL mode (config.go:85-103; parser.go:330-377
    condition sequences): DROP records matching the condition sequence.
    logic_op mirrors pkg/ottl/config.go:30-44 ConditionSequence — the
    filterprocessor default ORs its log_conditions; "and" requires all.
    Conditions are compiled once into one Column; error modes follow
    compile_condition (ignore/silent → condition false on failing rows →
    record kept, logs.go:86-99; propagate → raise)."""
    from ..ottl.compiler import Context, compile_condition

    if logic_op not in ("or", "and"):
        raise ValueError(f"logic_op {logic_op!r}")
    ctx = Context(path_map, error_mode, path_types)
    cond = compile_condition(conditions[0], ctx)
    for c in conditions[1:]:
        nxt = compile_condition(c, ctx)
        cond = (cond | nxt) if logic_op == "or" else (cond & nxt)
    return filter_drop(df, cond)


def filter_include_exclude(
    df: DataFrame,
    include: Column | None = None,
    exclude: Column | None = None,
) -> DataFrame:
    """Legacy matcher composition (filterlog.go:30-51): a record is
    dropped when NOT(include) OR exclude."""
    skip = F.lit(False)
    if include is not None:
        skip = skip | ~F.coalesce(include, F.lit(False))
    if exclude is not None:
        skip = skip | F.coalesce(exclude, F.lit(False))
    return df.filter(~skip)


def match_properties_condition(
    props: dict,
    attrs_col: str = "attributes",
    body_col: str = "body",
    severity_text_col: str = "severity_text",
    severity_number_col: str = "severity_number",
    resource_col: str = "resource",
) -> Column:
    """filterset MatchProperties → boolean Column — the YAML
    ``include:``/``exclude:`` block shared by the attributes, resource,
    and legacy-filter processors (internal/filter/filterconfig/config.go:
    60-131, matching internal/filter/filterlog/filterlog.go):

    - ``match_type`` strict → string equality; regexp → unanchored
      Go-MatchString semantics (``rlike``);
    - ``log_bodies`` / ``log_severity_texts``: the field must match AT
      LEAST ONE listed item;
    - ``log_severity_number: {min, match_undefined}``: severity >= min,
      with undefined (0/null) severities matching only when
      match_undefined (config.go:224-240);
    - ``attributes`` / ``resources``: list of {key, value?} — ALL must
      match; a key with no value matches on presence alone;
    - every specified property group must match (AND across groups).
    """
    mt = props.get("match_type", "strict")
    if mt not in ("strict", "regexp"):
        raise ValueError(f"match_type {mt!r} (strict/regexp)")

    def one(col: Column, item: str) -> Column:
        return col.rlike(item) if mt == "regexp" else col == F.lit(str(item))

    def any_of(col: Column, items: list) -> Column:
        cond = one(col, items[0])
        for it in items[1:]:
            cond = cond | one(col, it)
        return F.coalesce(cond, F.lit(False))

    parts: list[Column] = []
    if props.get("log_bodies"):
        parts.append(any_of(F.col(body_col), props["log_bodies"]))
    if props.get("log_severity_texts"):
        parts.append(
            any_of(F.col(severity_text_col), props["log_severity_texts"])
        )
    if props.get("log_severity_number"):
        sn = props["log_severity_number"]
        c = F.col(severity_number_col)
        defined = c.isNotNull() & (c != 0)
        parts.append(
            F.when(defined, c >= int(sn["min"]))
            .otherwise(F.lit(bool(sn.get("match_undefined", False))))
        )
    for section, col_name in (("attributes", attrs_col),
                              ("resources", resource_col)):
        for entry in props.get(section) or []:
            v = F.col(col_name).getItem(entry["key"])
            if "value" in entry:
                parts.append(F.coalesce(one(v, entry["value"]),
                                        F.lit(False)))
            else:
                parts.append(v.isNotNull())
    if not parts:
        raise ValueError(
            "match properties need at least one of log_bodies/"
            "log_severity_texts/log_severity_number/attributes/resources"
        )
    cond = parts[0]
    for p in parts[1:]:
        cond = cond & p
    return cond


def include_exclude_gate(cfg: dict, **cols) -> Column | None:
    """attributes/resource processor record gate (attributes_log.go:
    34-45 skipExpr): process a record iff include matches (when given)
    AND exclude does not (when given). Returns None when the config has
    neither block (process everything)."""
    inc, exc = cfg.get("include"), cfg.get("exclude")
    if not inc and not exc:
        return None
    gate = F.lit(True)
    if inc:
        gate = gate & F.coalesce(
            match_properties_condition(inc, **cols), F.lit(False)
        )
    if exc:
        gate = gate & ~F.coalesce(
            match_properties_condition(exc, **cols), F.lit(False)
        )
    return gate


def drop_ratio(
    df: DataFrame, ratio: float, key: Column, seed: int = 0
) -> DataFrame:
    """stanza filter drop_ratio (config.go:44-45) — deterministic variant:
    drop row when hash(key, seed) lands in the ratio bucket. The reference
    uses math/rand; hash-based is reproducible and distributed-safe."""
    bucket = F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(10_000))
    return df.filter(bucket >= int(ratio * 10_000))


def probabilistic_sample(
    df: DataFrame,
    percentage: float,
    source: Column,
    hash_seed: int = 22,
) -> DataFrame:
    """probabilistic sampler keep-path (logsprocessor.go:124-168):
    keep when scaled hash of the sampling source < percentage threshold.
    xxhash64 substitutes FNV-32a (documented deviation; distribution
    properties equivalent for sampling)."""
    threshold = int(percentage / 100.0 * 10_000)
    bucket = F.pmod(F.xxhash64(source, F.lit(hash_seed)), F.lit(10_000))
    return df.filter(bucket < threshold)

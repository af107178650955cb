"""Physical-plan audits — the 100×-scale contracts, asserted.

Correctness tests prove WHAT is computed; these prove HOW: the plan
properties that decide whether the same job survives a 1000-executor /
100 TB run. Each assertion pins a property that a refactor could silently
lose (a broadcast that becomes a shuffle, a second Python boundary, a
filter that stops reaching the scan)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.fixtures import ensure_fixture_dir
from opentelemetry_collector_contrib_spark.functions.grok import GrokPattern
from opentelemetry_collector_contrib_spark.operators.enrich import (
    enrich_transcripts,
)
from opentelemetry_collector_contrib_spark.operators.group import (
    conversation_rollup,
)
from opentelemetry_collector_contrib_spark.operators.parse import (
    parse_transcripts,
    regex_parser,
)
from opentelemetry_collector_contrib_spark.sources.readers import (
    read_dims,
    read_transcripts,
)


def _fx():
    return ensure_fixture_dir("sf0.001")


def _plan(df, mode="formatted"):
    return df._jdf.queryExecution().explainString(
        getattr(
            df.sparkSession._jvm.org.apache.spark.sql.execution
            .ExplainMode, "fromString"
        )(mode)
    )


def test_parse_stage_default_is_codegen_only(spark):
    """The DEFAULT parse path stays entirely inside whole-stage codegen —
    no Python boundary at all (regexp_extract builtins; measured 2.2×
    the Arrow path at sf0.1)."""
    df = parse_transcripts(read_transcripts(spark, _fx()))
    plan = _plan(df, mode="simple")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # the extraction is inline JVM regexp_extract over the scan — no
    # Python node anywhere in the plan (codegen markers aren't printed
    # for an un-finalized AQE plan, so the boundary check IS the test)
    assert "regexp_extract" in plan
    # the severity dim is a JVM LocalRelation, not a parallelized Python
    # RDD (`Scan ExistingRDD`) whose scan forks Python workers
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan


# a multi-group named-capture pattern over the transcript tokens: the
# grok engine (functions/grok.py) is the only user-pattern parse path
_TOKEN_RX = r"level=(?P<lvl>\S+).*?dur_ms=(?P<dur>\d+)"


def test_parse_stage_single_python_boundary(spark):
    """The grok-engine (UDF) parse is ONE ArrowEvalPython node for all
    named groups — a second one means the text crosses the Python
    boundary twice per pass."""
    df = regex_parser(read_transcripts(spark, _fx()), "text", _TOKEN_RX)
    plan = _plan(df, mode="simple")
    assert plan.count("ArrowEvalPython") == 1


def test_enrich_joins_are_broadcast(spark):
    """Dimension enrichment must stay a broadcast hash join: a shuffle
    join on role/tool would move the full fact table for a 10-row dim."""
    df = parse_transcripts(read_transcripts(spark, _fx()))
    roles, tools = read_dims(spark, _fx())
    plan = _plan(enrich_transcripts(df, roles, tools))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_severity_mapping_is_broadcast_join(spark):
    df = parse_transcripts(read_transcripts(spark, _fx()))
    assert "BroadcastHashJoin" in _plan(df)


def test_rollup_partial_aggregates_before_one_shuffle(spark):
    """The conversation rollup shuffles once, on conv_id, and a partial
    HashAggregate below that Exchange folds the Zipf-hot key map-side to
    one row per task — the hot-key protection, with no salt."""
    df = parse_transcripts(read_transcripts(spark, _fx()))
    plan = _plan(conversation_rollup(df), mode="simple")
    shuffles = [ln for ln in plan.splitlines()
                if "Exchange " in ln and "BroadcastExchange" not in ln]
    assert len(shuffles) == 1
    assert "Exchange hashpartitioning(conv_id" in shuffles[0]
    below = plan.split(shuffles[0], 1)[1].splitlines()
    partial = next(ln for ln in below if "HashAggregate" in ln)
    assert "partial_count" in partial and "partial_sum" in partial
    assert "_salt" not in plan


def test_filter_pushed_to_parquet_scan(spark):
    """A role filter belongs in PushedFilters of the parquet scan, and
    column pruning must shrink ReadSchema to the referenced columns."""
    df = read_transcripts(spark, _fx())
    q = df.filter(F.col("role") == "user").select("conv_id", "turn_idx")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(role), EqualTo(role,user)" in plan
    assert "text" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_parse_filter_not_pushed_past_udf(spark):
    """Filters on grok UDF outputs must NOT re-trigger the extraction:
    the nondeterministic marking keeps one ArrowEvalPython even under a
    downstream filter + projection."""
    g = GrokPattern(_TOKEN_RX)
    df = g.apply(read_transcripts(spark, _fx()), "text")
    q = df.filter(F.col("lvl") == "ERROR").select("conv_id", "dur")
    assert _plan(q, mode="simple").count("ArrowEvalPython") == 1


def test_relational_q5_star_join_broadcasts_dims(spark):
    from opentelemetry_collector_contrib_spark.relational import region_sales

    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.001")

    def t(name):
        return spark.read.parquet(os.path.join(sf, f"{name}.parquet"))

    q = region_sales(
        t("customer"), t("orders"), t("lineitem"), t("supplier"),
        t("nation"), t("region"),
    )
    plan = _plan(q)
    # every dimension arm broadcasts; the lineitem⋈orders join may be
    # planned either way by AQE/size, but dims must never shuffle
    assert plan.count("BroadcastHashJoin") >= 3


def test_topk_is_take_ordered(spark):
    """orderBy+limit must compile to TakeOrderedAndProject, not a global
    Sort + CollectLimit (which materializes a full sort at scale)."""
    from opentelemetry_collector_contrib_spark.relational import (
        shipping_priority,
    )

    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.001")

    def t(name):
        return spark.read.parquet(os.path.join(sf, f"{name}.parquet"))

    q = shipping_priority(t("customer"), t("orders"), t("lineitem"))
    assert "TakeOrderedAndProject" in _plan(q)


def test_q19_disjunctive_stays_hash_join(spark):
    """The OR-of-ANDs must ride the partkey equi-join as a post-join
    filter — a BroadcastHashJoin, never BroadcastNestedLoopJoin/Cartesian
    (the theta-join trap that explodes at scale)."""
    from opentelemetry_collector_contrib_spark.relational import (
        disjunctive_part_revenue,
    )

    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.001")

    def t(name):
        return spark.read.parquet(os.path.join(sf, f"{name}.parquet"))

    plan = _plan(disjunctive_part_revenue(t("lineitem"), t("part")))
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_q10_window_partitioned_not_global(spark):
    """Per-nation top-k ranks inside a window PARTITIONED on n_name —
    the plan must contain a partial sort under the Window, not a global
    Sort over an empty partition spec (the single-partition bottleneck)."""
    from opentelemetry_collector_contrib_spark.relational import (
        top_customers_per_nation,
    )

    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.001")

    def t(name):
        return spark.read.parquet(os.path.join(sf, f"{name}.parquet"))

    q = top_customers_per_nation(
        t("customer"), t("orders"), t("lineitem"), t("nation")
    )
    plan = _plan(q, mode="simple")
    assert "Window" in plan
    assert "partitionBy=[n_name" in plan.replace(" ", "").replace(
        "partitionBy=[n_name#", "partitionBy=[n_name"
    ) or "n_name" in plan.split("Window")[1].split("\n")[0]


def test_q17_threshold_join_broadcasts(spark):
    """The per-part avg-qty thresholds are a tiny aggregate — they must
    broadcast back onto the fact scan, not trigger a second fact
    shuffle."""
    from opentelemetry_collector_contrib_spark.relational import (
        small_quantity_revenue,
    )

    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.001")

    def t(name):
        return spark.read.parquet(os.path.join(sf, f"{name}.parquet"))

    plan = _plan(small_quantity_revenue(t("lineitem"), t("part")))
    assert plan.count("BroadcastHashJoin") >= 2


def test_q6_all_predicates_pushed_to_scan(spark):
    """Q6 is the degenerate scan-filter-agg shape: all four predicates
    must reach the parquet scan (PushedFilters) and the scan schema must
    prune to exactly the 4 referenced columns."""
    from opentelemetry_collector_contrib_spark.relational import (
        forecast_revenue,
    )

    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.001")
    q = forecast_revenue(
        spark.read.parquet(os.path.join(sf, "lineitem.parquet"))
    )
    plan = _plan(q)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"GreaterThanOrEqual({col}" in plan or f"LessThan({col}" in plan, col
    # column pruning: the struct read from parquet carries only what Q6 uses
    assert "l_returnflag" not in plan.split("ReadSchema")[1][:400]


def test_q8_star_join_broadcasts_all_dims(spark):
    """Q8's seven-table join: six dimension arms broadcast; only
    lineitem ⋈ orders may shuffle. A single lost broadcast turns a map-side
    star join into a cascade of full shuffles at 100 TB."""
    from opentelemetry_collector_contrib_spark.relational import (
        national_market_share,
    )

    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.001")

    def t(name):
        return spark.read.parquet(os.path.join(sf, f"{name}.parquet"))

    q = national_market_share(
        t("part"), t("supplier"), t("lineitem"), t("orders"),
        t("customer"), t("nation"), t("region"),
    )
    plan = _plan(q)
    assert plan.count("BroadcastHashJoin") >= 5
    # the conditional-aggregate ratio is one agg, not a self-join
    assert plan.count("HashAggregate") <= 4


def test_quality_filter_pipeline_zero_shuffle(spark):
    """The composed C4/Gopher gate is a single narrow projection — any
    Exchange in its plan means a signal leaked an aggregation into the
    hot path and the gate no longer runs at scan speed."""
    from opentelemetry_collector_contrib_spark.textops import (
        quality_filter_pipeline,
    )

    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.001")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    plan = _plan(quality_filter_pipeline(docs))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_q9_dims_broadcast_single_fact_shuffle(spark):
    """Q9's three dimension arms (part/supplier/nation) broadcast; the
    only shuffle join is lineitem ⋈ orders. If the LIKE-filtered part
    arm degrades to a shuffle, the scan output is moved twice at 100 TB."""
    from opentelemetry_collector_contrib_spark.relational import (
        profit_by_nation_year,
    )

    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.001")

    def t(name):
        return spark.read.parquet(os.path.join(sf, f"{name}.parquet"))

    q = profit_by_nation_year(
        t("lineitem"), t("part"), t("supplier"), t("nation"), t("orders")
    )
    plan = _plan(q)
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_q11_single_lineitem_scan(spark):
    """Q11's global-total threshold must derive from the per-part
    partials, not a second lineitem pass: exactly one lineitem scan in
    the plan, and the 1-row threshold joins as a broadcast."""
    from opentelemetry_collector_contrib_spark.relational import (
        important_parts,
    )

    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.001")

    def t(name):
        return spark.read.parquet(os.path.join(sf, f"{name}.parquet"))

    q = important_parts(t("lineitem"), t("part"))
    plan = _plan(q)
    assert plan.count("lineitem.parquet") == 1
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q22_anti_join_with_pushed_build_filter(spark):
    """Q22's NOT EXISTS compiles to a hash anti join whose build side is
    pre-filtered (o_totalprice > threshold reaches the orders scan as a
    pushed filter) — the anti join must never see unfiltered orders."""
    from opentelemetry_collector_contrib_spark.relational import (
        global_sales_opportunity,
    )

    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.001")

    def t(name):
        return spark.read.parquet(os.path.join(sf, f"{name}.parquet"))

    q = global_sales_opportunity(t("customer"), t("orders"))
    plan = _plan(q)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    # totalprice predicate is pushed into the orders parquet scan
    assert "GreaterThan(o_totalprice" in plan


def test_q2_single_lineitem_scan(spark):
    """Q2's argmin join-back derives the per-part minimum from the SAME
    persisted (part, supplier) partial it joins against — one lineitem
    scan, not one per branch."""
    from opentelemetry_collector_contrib_spark.relational import (
        min_cost_supplier,
    )

    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.001")

    def t(name):
        return spark.read.parquet(os.path.join(sf, f"{name}.parquet"))

    q = min_cost_supplier(t("lineitem"), t("supplier"), t("part"))
    plan = _plan(q)
    assert plan.count("lineitem.parquet") == 1


def test_q20_both_exists_levels_are_semi_joins(spark):
    """Q20's nested EXISTS compiles to two stacked LeftSemi hash joins —
    never an inner join that would duplicate supplier rows per matching
    lineitem, and never a count-distinct."""
    from opentelemetry_collector_contrib_spark.relational import (
        promo_part_suppliers,
    )

    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.001")

    def t(name):
        return spark.read.parquet(os.path.join(sf, f"{name}.parquet"))

    q = promo_part_suppliers(t("lineitem"), t("part"), t("supplier"))
    plan = _plan(q)
    assert plan.count("LeftSemi") >= 2
    assert "HashAggregate" not in plan.split("LeftSemi")[0]


def test_chained_stream_processors_share_one_exchange(spark):
    """cumulativetodelta → deltatorate chained on the same stream
    identity plan with a SINGLE hashpartitioning Exchange: both windows
    partition by the same keys, so Catalyst reuses the shuffle."""
    from opentelemetry_collector_contrib_spark.operators.aggregate import (
        cumulative_to_delta,
        delta_to_rate,
    )

    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.001")
    ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
    out = delta_to_rate(
        cumulative_to_delta(
            ev, keys=["user_id", "event_type"], order_by=["ts", "event_id"]
        ),
        keys=["user_id", "event_type"],
        value_col="delta",
        order_by=["ts", "event_id"],
    )
    plan = _plan(out, "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    # Catalyst even collapses the two same-spec windows into ONE node
    assert plan.count("Window") == 1


def test_context_windows_single_conversation_shuffle(spark):
    """The SFT example builder shuffles ONCE on the conversation
    identity with a bounded window frame — no whole-conversation
    aggregation, no second exchange for the role filter."""
    from opentelemetry_collector_contrib_spark.textops import (
        context_windows,
    )

    out = context_windows(read_transcripts(spark, _fx()), n_context=3)
    plan = _plan(out, "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1


def test_sf_scaling_tables_never_hint_broadcast(spark):
    """The 100×-tier contract for the TPC-H family (round-4 VERDICT #1):
    customer/supplier/part grow linearly with scale factor, so the code
    must NOT carry `F.broadcast` hints on them — a hint overrides
    `autoBroadcastJoinThreshold` and OOMs the build side once the table
    outgrows executor memory. Simulated here by setting both broadcast
    thresholds to -1 (exactly what a 100× tier does to these tables:
    they blow past the threshold): with size-based broadcast off, ANY
    BroadcastHashJoin left in the plan can only come from a hint, so
    each plan must show the SF-scaling joins as SMJ/shuffled-hash while
    only the fixed-size nation/region arms and reduced intermediates
    (1-row scalars, per-part thresholds) stay broadcast."""
    from opentelemetry_collector_contrib_spark.relational import (
        large_orders,
        nation_pair_volume,
        region_sales,
        small_quantity_revenue,
        top_customers_per_nation,
    )

    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.001")

    def t(name):
        return spark.read.parquet(os.path.join(sf, f"{name}.parquet"))

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

        # Q18: no hints at all → the customer join degrades to a shuffle
        q18 = large_orders(t("customer"), t("orders"), t("lineitem"))
        p18 = _plan(q18, "simple")
        assert p18.count("BroadcastHashJoin") == 0
        assert (
            p18.count("SortMergeJoin") + p18.count("ShuffledHashJoin") >= 2
        )

        # Q5: only the region→nation arm keeps its 2 hinted broadcasts;
        # supplier + customer + lineitem⋈orders shuffle
        q5 = region_sales(
            t("customer"), t("orders"), t("lineitem"), t("supplier"),
            t("nation"), t("region"),
        )
        p5 = _plan(q5, "simple")
        assert p5.count("BroadcastHashJoin") == 2
        assert p5.count("SortMergeJoin") + p5.count("ShuffledHashJoin") >= 3

        # Q7: exactly the two 25-row nation roles stay broadcast
        q7 = nation_pair_volume(
            t("lineitem"), t("orders"), t("customer"), t("supplier"),
            t("nation"),
        )
        p7 = _plan(q7, "simple")
        assert p7.count("BroadcastHashJoin") == 2

        # Q10: only the nation arm stays broadcast
        q10 = top_customers_per_nation(
            t("customer"), t("orders"), t("lineitem"), t("nation")
        )
        p10 = _plan(q10, "simple")
        assert p10.count("BroadcastHashJoin") == 1

        # Q17: the per-part threshold aggregate (a genuinely reduced
        # side) keeps its hint; the part-key prefilter join shuffles
        q17 = small_quantity_revenue(t("lineitem"), t("part"))
        p17 = _plan(q17, "simple")
        assert p17.count("BroadcastHashJoin") == 1
        assert (
            p17.count("SortMergeJoin") + p17.count("ShuffledHashJoin") >= 1
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_parsed_enriched_plans_without_jobs(spark, group_job_count):
    """Building the flagship's parse + enrich frame submits no Spark job:
    the transcript and dim schemas come from a footer read on the driver
    and the severity dim is a LocalRelation, so the first job of a pass
    is one that reads rows."""
    from opentelemetry_collector_contrib_spark.plans.flagship import (
        parsed_enriched,
    )

    assert group_job_count(
        "parsed-enriched-plan", lambda: parsed_enriched(spark, _fx())
    ) == 0

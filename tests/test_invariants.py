"""Algebraic invariants of the pipeline operators (SURVEY §5.2 item 3
extended to the LLM-data surface). These catch a class of bug the
value-parity oracle can't: a query whose output is plausible but whose
operator violates the property users build pipelines on.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from muurschilderingendatabase_etl_spark import registry
from muurschilderingendatabase_etl_spark.tables import t
from tests.conftest import SF_DIR

# Fixture root for the DuckDB-only form-equivalence tests below, which
# want the sf0.01 slice regardless of the Spark-parity SF_DIR. Honors
# the same PARITY_SF_DIR override as conftest (r7 ADVICE): the root is
# PARITY_SF_DIR's parent so any relocated testdata layout keeps working.
TESTDATA_ROOT = os.path.dirname(
    os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001").rstrip("/")
)
EQ_SF_DIR = os.path.join(TESTDATA_ROOT, "sf0.01")


def test_exact_dedup_idempotent(spark):
    # dedup(dedup(x)) == dedup(x): the keep-first content-hash pass over
    # its own output must be a fixed point (same operation as
    # dedup_exact_hash before its reporting rollup).
    docs = t(spark, SF_DIR, "documents").withColumn("h", F.sha2("text", 256))
    once = docs.dropDuplicates(["h"])
    again = once.dropDuplicates(["h"])
    assert once.count() == again.count() == docs.select("h").distinct().count()
    assert once.select("h").exceptAll(again.select("h")).count() == 0


def test_quality_gates_partition_documents(spark):
    # Every document lands in exactly one pass/fail bucket: n_pass <=
    # n_docs per source and totals reconcile with the table.
    rows = registry.all_queries()["quality_gopher_gates"](spark, SF_DIR).collect()
    n_total = t(spark, SF_DIR, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_total
    assert all(0 <= r["n_pass"] <= r["n_docs"] for r in rows)


def test_length_band_keeps_interior(spark):
    # The percentile band filter must keep a strict subset per language
    # and never widen the min/max envelope.
    kept = {
        r["lang"]: r
        for r in registry.all_queries()["quality_length_band_filter"](
            spark, SF_DIR
        ).collect()
    }
    full = {
        r["lang"]: r
        for r in t(spark, SF_DIR, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_chars").alias("mn"),
            F.max("n_chars").alias("mx"),
        )
        .collect()
    }
    for lang, k in kept.items():
        f = full[lang]
        assert k["n_kept"] <= f["n"]
        assert k["min_chars"] >= f["mn"]
        assert k["max_chars"] <= f["mx"]


def test_hash_sample_is_subset_and_stable(spark):
    # Deterministic sampling: same selection on re-run, and the sampled
    # token mass never exceeds the stratum's.
    q = registry.all_queries()["sample_hash_stratified"]
    a = {r["lang"]: (r["n_sampled"], r["sum_chars"]) for r in q(spark, SF_DIR).collect()}
    b = {r["lang"]: (r["n_sampled"], r["sum_chars"]) for r in q(spark, SF_DIR).collect()}
    assert a == b
    full = {
        r["lang"]: (r["n"], r["sc"])
        for r in t(spark, SF_DIR, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("sc"))
        .collect()
    }
    for lang, (n, sc) in a.items():
        assert n <= full[lang][0] and sc <= full[lang][1]


def test_upsert_latest_wins_bounds(spark):
    # The merged view never contains more rows per key than 1: total
    # reconciled count == distinct upsert keys of the unioned input.
    ev = t(spark, SF_DIR, "events")
    base_keys = ev.where(F.col("event_id") % 3 != 0).select("event_id")
    delta_keys = ev.where(F.col("event_id") % 5 == 0).select("event_id")
    n_keys = base_keys.union(delta_keys).distinct().count()
    rows = registry.all_queries()["pipeline_incremental_upsert"](
        spark, SF_DIR
    ).collect()
    assert sum(r["n"] for r in rows) == n_keys


def test_sessionize_conservation(spark):
    # Sessionization conserves events: histogram mass equals the events
    # row count, and no session can span more rows than its user has.
    rows = registry.all_queries()["window_sessionize_gaps"](spark, SF_DIR).collect()
    n_events = t(spark, SF_DIR, "events").count()
    assert sum(r["n_events"] * r["n_sessions"] for r in rows) == n_events


def test_forward_asof_matches_reversed_backward_semantics(spark):
    # Forward as-of with tolerance == "earliest candidate in window":
    # every match must be the min-(ts, event_id) purchase of the same
    # user in [v.ts, v.ts + 24h], and a NULL match means no candidate
    # exists — the time-reversal symmetry with the backward as-of,
    # checked against an independently-built range-join ground truth.
    got = {
        r["event_id"]: r["next_purchase_event"]
        for r in registry.all_queries()["join_asof_forward_tolerance"](
            spark, SF_DIR
        ).collect()
    }
    ev = t(spark, SF_DIR, "events")
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"), F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    expected_rows = (
        views.join(
            purchases,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 24 HOURS")),
            "left",
        )
        .groupBy("v_id")
        .agg(F.min_by("p_id", F.struct("p_ts", "p_id")).alias("expect"))
        .collect()
    )
    expected = {r["v_id"]: r["expect"] for r in expected_rows}
    assert got == expected


def test_pack_bins_balance_and_conservation(spark):
    # Round-robin-FFD bin packing: token mass and doc count are
    # conserved, and the bin imbalance is bounded by one maximal
    # document (the classic sorted-round-robin bound).
    bins = registry.all_queries()["pack_sequence_bins"](spark, SF_DIR).collect()
    sized = t(spark, SF_DIR, "documents").select(
        F.size(
            F.regexp_extract_all(
                "text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), F.lit(0)
            )
        ).alias("n_tokens")
    )
    totals = sized.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_tokens").alias("tok"),
        F.max("n_tokens").alias("mx"),
    ).collect()[0]
    assert sum(r["n_docs"] for r in bins) == totals["n"]
    assert sum(r["bin_tokens"] for r in bins) == totals["tok"]
    loads = [r["bin_tokens"] for r in bins]
    assert max(loads) - min(loads) <= totals["mx"]


def test_rolling_median_constant_series_fixed_point(spark):
    # Median smoothing of a constant series is the identity: running the
    # operator's mid-of-3 formulation over a constant value column must
    # return that constant for every emitted row (and emit exactly the
    # rows with a full frame).
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    const = t(spark, SF_DIR, "events").select(
        "user_id", "event_id", "ts", F.lit(7.25).alias("value")
    )
    lagged = const.select(
        "user_id", "event_id", "value",
        F.lag("value", 1).over(w).alias("l1"),
        F.lag("value", 2).over(w).alias("l2"),
    )
    mid = F.element_at(F.array_sort(F.array("value", "l1", "l2")), 2)
    out = lagged.where(F.col("l2").isNotNull()).select(mid.alias("m"))
    n_users_3plus = (
        const.groupBy("user_id").count().where(F.col("count") >= 3)
        .selectExpr("sum(count - 2) AS n").collect()[0]["n"]
    )
    stats = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("m").alias("mn"),
        F.max("m").alias("mx"),
    ).collect()[0]
    assert stats["n"] == (n_users_3plus or 0)
    assert stats["mn"] == stats["mx"] == 7.25


def test_contamination_subset_of_other_sources(spark):
    # Contaminated docs are a subset of non-benchmark docs per source.
    rows = registry.all_queries()["contamination_ngram_overlap"](
        spark, SF_DIR
    ).collect()
    per_source = {
        r["source"]: r["n"]
        for r in t(spark, SF_DIR, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in rows:
        assert r["source"] != "src0"
        assert 0 < r["n_contaminated_docs"] <= per_source[r["source"]]


def test_quota_sample_respects_cap(spark):
    from muurschilderingendatabase_etl_spark.queries.chunking_splits import (
        QUOTA,
        sample_per_source_quota,
    )

    rows = sample_per_source_quota(spark, SF_DIR).collect()
    assert rows, "quota sample returned no sources"
    assert all(r.n_kept <= QUOTA for r in rows)


def test_split_partitions_corpus(spark):
    """train/valid/test must partition the corpus: split doc counts sum
    to the table count, and re-running yields the identical assignment
    (determinism is the operator's contract)."""
    from muurschilderingendatabase_etl_spark.queries.chunking_splits import (
        split_train_valid_test,
    )
    from muurschilderingendatabase_etl_spark.tables import t

    one = {r.split: r.n_docs for r in split_train_valid_test(spark, SF_DIR).collect()}
    two = {r.split: r.n_docs for r in split_train_valid_test(spark, SF_DIR).collect()}
    assert one == two
    assert sum(one.values()) == t(spark, SF_DIR, "documents").count()


def test_chunking_covers_every_doc(spark):
    """Every document yields at least one chunk; chunk words never
    exceed the window width."""
    from muurschilderingendatabase_etl_spark.queries.chunking_splits import (
        CHUNK_W,
        chunk_fixed_windows,
    )
    from muurschilderingendatabase_etl_spark.tables import t

    rows = chunk_fixed_windows(spark, SF_DIR).collect()
    n_docs = t(spark, SF_DIR, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert all(r.avg_chunk_words <= CHUNK_W for r in rows)


def test_pagerank_mass_conservation(spark):
    """Ranks are a probability distribution: they sum to 1 (damping +
    teleport conserve mass on a graph with no dangling nodes), and
    every node's rank is at least the teleport floor."""
    from muurschilderingendatabase_etl_spark.queries.graph import (
        DAMPING,
        graph_pagerank_fixed,
    )

    rows = graph_pagerank_fixed(spark, SF_DIR).collect()
    total = sum(r.pr for r in rows)
    assert abs(total - 1.0) < 1e-3, f"rank mass drifted: {total}"
    floor = (1 - DAMPING) / len(rows)
    assert all(r.pr >= floor - 1e-12 for r in rows)


def test_geo_distance_join_bounds(spark):
    """Every reported neighbor set respects the radius: nearest_km is
    within (0, 500] and counts are positive."""
    from muurschilderingendatabase_etl_spark.queries.geo import (
        RADIUS_KM,
        geo_distance_join_grid,
    )

    rows = geo_distance_join_grid(spark, SF_DIR).collect()
    assert rows, "no supplier found any customer within 500 km"
    # nearest_km == 0 is legitimate: the synthetic coordinate scheme
    # maps equal key values (c_custkey == s_suppkey) to identical
    # coordinates.
    assert all(0 <= r.nearest_km <= RADIUS_KM for r in rows)
    assert all(r.n_within >= 1 for r in rows)


def test_compaction_collapses_files(spark):
    """Compaction must actually reduce the file count (64 -> 4) while
    the row count survives exactly."""
    from muurschilderingendatabase_etl_spark.queries import scans
    from muurschilderingendatabase_etl_spark.tables import t

    out = scans.sink_compact_small_files(spark, SF_DIR)
    total = sum(r.n_docs for r in out.collect())
    assert total == t(spark, SF_DIR, "documents").count()
    # the returned frame reads exactly the compacted files
    n_files = len(out.inputFiles())
    assert 0 < n_files <= 4, f"expected <=4 compacted files, found {n_files}"


def test_geo_fixture_clear_of_ulp_boundary():
    """geo.py documents the one known parity landmine: a pair within
    ulps of the 500 km cut (or a nearest_km rounding midpoint) could
    flip Spark-vs-DuckDB parity on a fixture refresh even though the
    operator is correct. Guard-band it: at every driver SF the closest
    pair distance to the 500 km boundary must clear it by >= 1 mm —
    ~10^6 x the ~1-ulp libm divergence. (nearest_km midpoints are
    degenerate-stable by construction: customer keys superset supplier
    keys, so every supplier has a same-coordinate customer and
    nearest_km == 0.00 exactly.) If this ever fires, nudge RADIUS_KM by
    1e-6 in BOTH engines per the geo.py note — don't chase bit trig."""
    import duckdb

    hav = (
        "2*6371.0*asin(sqrt(pow(sin(radians(c.lat-s.lat)/2),2)"
        "+cos(radians(s.lat))*cos(radians(c.lat))"
        "*pow(sin(radians(c.lon-s.lon)/2),2)))"
    )
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW supplier AS SELECT * FROM '{TESTDATA_ROOT}/{sf}/supplier.parquet'"
        )
        con.sql(
            f"CREATE VIEW customer AS SELECT * FROM '{TESTDATA_ROOT}/{sf}/customer.parquet'"
        )
        gap, min_d = con.sql(
            f"""
            WITH s AS (SELECT (((s_suppkey*37)%12000)/100.0-60) AS lat,
                              (((s_suppkey*73)%36000)/100.0-180) AS lon FROM supplier),
                 c AS (SELECT (((c_custkey*37)%12000)/100.0-60) AS lat,
                              (((c_custkey*73)%36000)/100.0-180) AS lon FROM customer),
                 d AS (SELECT {hav} AS dist FROM s CROSS JOIN c)
            SELECT MIN(ABS(dist-500.0)), MIN(dist) FROM d
            """
        ).fetchone()
        assert gap >= 1e-6, f"{sf}: pair within {gap} km of the 500 km cut"
        assert min_d == 0.0, f"{sf}: nearest_km degeneracy assumption broken"


def test_merge_upsert_cow_semantics(spark):
    """sink_merge_upsert writes real files: v1 must contain no deleted
    key, every upserted key exactly once with the corrected values
    (including keys absent from the base = inserts), and untouched base
    rows byte-identical; the manifest records the version lineage."""
    import json
    from urllib.parse import urlparse

    out = registry.all_queries()["sink_merge_upsert"](spark, SF_DIR)
    out.collect()
    # the returned frame reads <root>/v1/part-*
    root = os.path.dirname(os.path.dirname(urlparse(out.inputFiles()[0]).path))
    assert os.path.exists(os.path.join(root, "manifest.json"))
    manifest = json.load(open(os.path.join(root, "manifest.json")))
    assert manifest["current_version"] == 1 and manifest["merge_key"] == "event_id"

    v0 = spark.read.parquet(os.path.join(root, "v0"))
    v1 = spark.read.parquet(os.path.join(root, "v1"))
    # deletes: %7==0, %5!=0 keys present in v0 must be gone from v1
    deleted = v0.where(
        (F.col("event_id") % 7 == 0) & (F.col("event_id") % 5 != 0)
    ).select("event_id")
    assert v1.join(deleted, "event_id").count() == 0
    # upserts: every %5==0 key appears exactly once, corrected
    up = v1.where(F.col("event_id") % 5 == 0)
    n_keys = t(spark, SF_DIR, "events").where(
        F.col("event_id") % 5 == 0
    ).select("event_id").distinct().count()
    assert up.count() == n_keys
    assert up.where(F.col("event_type") != "corrected").count() == 0
    # inserts happened: some upserted keys were NOT in the base (%3==0)
    assert up.where(F.col("event_id") % 3 == 0).count() > 0
    # untouched rows match the base exactly
    chg_keys = ((F.col("event_id") % 5 == 0) | (F.col("event_id") % 7 == 0))
    assert (
        v0.where(~chg_keys).exceptAll(v1.where(~chg_keys)).count() == 0
        and v1.where(~chg_keys).exceptAll(v0.where(~chg_keys)).count() == 0
    )


def test_skyline_fast_form_equals_quadratic_oracle():
    # The sf10 skyline check (tests/scale_oracles.py) replaces
    # the registered quadratic NOT EXISTS oracle with an O(n log n)
    # running-max form. They are the same predicate split by the price
    # comparison (q.price < p.price | q.price = p.price); prove the
    # equivalence on real data where the quadratic side is feasible.
    import duckdb
    import __spark_entry__ as mod
    from tests.scale_oracles import FAST_SKYLINE

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW part AS SELECT * FROM '{EQ_SF_DIR}/part.parquet'"
    )
    slow = con.sql(mod.oracle_sql()["skyline_pareto_frontier"]).df()
    fast = con.sql(FAST_SKYLINE).df()
    cols = sorted(slow.columns)
    c = lambda d: d[cols].sort_values(cols).reset_index(drop=True)  # noqa: E731
    assert len(slow) == len(fast) and c(slow).equals(c(fast))


def test_geo_grid_form_equals_allpairs_oracle():
    # The sf10 geo check (tests/scale_oracles.py) mirrors the grid
    # blocking in DuckDB because the registered all-pairs oracle is
    # ~1.5e11 haversines at sf10. Prove grid-form == all-pairs-form IN
    # DUCKDB on real data, so the at-scale check inherits the
    # losslessness proof (blocking admits every pair within 500 km:
    # +-1 lat cell and +-2 ring-wrapped lon cells cover the radius for
    # |lat| <= 60 — the same covering argument the Spark plan documents).
    import duckdb
    import __spark_entry__ as mod
    from tests.scale_oracles import grid_oracle_sql

    con = duckdb.connect()
    for t_ in ("supplier", "customer"):
        con.sql(
            f"CREATE VIEW {t_} AS SELECT * FROM "
            f"'{EQ_SF_DIR}/{t_}.parquet'"
        )
    ap = con.sql(mod.oracle_sql()["geo_distance_join_grid"]).df()
    gr = con.sql(grid_oracle_sql()).df()
    cols = sorted(ap.columns)
    c = lambda d: d[cols].sort_values(cols).reset_index(drop=True)  # noqa: E731
    assert len(ap) == len(gr) and c(ap).equals(c(gr))


def test_pairminer_prefix_filter_forms_equal_allpairs_oracles():
    # The sf10 pair-miner check (tests/scale_oracles.py)
    # replaces the all-pairs candidate stage with prefix filtering
    # (Bayardo et al. WWW'07): Jaccard >= t forces >= ceil(t*|B|)
    # common tokens, which cannot all sit in B's ceil(t*|B|)-1 suffix
    # slots under a fixed global order — so every qualifying pair
    # shares a prefix token. The exact verify is the registered
    # oracle's own list_intersect, so values are computed identically.
    # Prove form-identity on real data for all three queries.
    import duckdb
    import __spark_entry__ as mod
    from tests.scale_oracles import fast_oracle_sql

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{EQ_SF_DIR}/documents.parquet'"
    )
    for name in ["dedup_ngram_jaccard", "dedup_minhash_lsh",
                 "dedup_connected_components"]:
        slow = con.sql(mod.oracle_sql()[name]).df()
        fast = con.sql(fast_oracle_sql(name)).df()
        cols = sorted(slow.columns)
        c = lambda d: d[cols].sort_values(cols).reset_index(drop=True)  # noqa: E731
        assert len(slow) == len(fast) and c(slow).round(6).equals(
            c(fast).round(6)
        ), name


def test_argmin_skips_null_price_like_arg_min(spark, tmp_path):
    # r7 ADVICE verified divergence: a struct key with a NULL price field
    # still participates in Spark's MIN and sorts smallest, while DuckDB's
    # arg_min skips NULL keys. agg_min_by_max_by now NULLs the whole key
    # when the price is NULL; pin the exact 3-row repro from the advice
    # (expected cheapest = the non-NULL minimum, k=10 not k=11).
    import duckdb

    rows = [
        (1, 11, None),    # NULL price must be skipped, not win
        (1, 10, 5.00),
        (1, 12, 9.00),
        (2, 20, None),    # all-NULL group: both engines emit NULL argmins
        (2, 21, None),
    ]
    df = spark.createDataFrame(
        rows, "o_custkey INT, o_orderkey INT, o_totalprice DOUBLE"
    )
    pq = str(tmp_path / "orders.parquet")
    df.coalesce(1).write.parquet(pq)
    got = {
        r["o_custkey"]: (r["cheapest_order"], r["priciest_order"])
        for r in registry.all_queries()["agg_min_by_max_by"](
            spark, str(tmp_path)
        ).collect()
    }
    con = duckdb.connect()
    con.sql(f"CREATE VIEW orders AS SELECT * FROM '{pq}/*.parquet'")
    import __spark_entry__ as mod

    want = {
        int(r[0]): (r[1], r[2])
        for r in con.sql(mod.oracle_sql()["agg_min_by_max_by"]).fetchall()
    }
    assert got == want == {1: (10, 12), 2: (None, None)}


@pytest.mark.parametrize(
    "name",
    [
        "scan_csv_roundtrip",
        "scan_json_roundtrip",
        "sink_parquet_roundtrip",
        "sink_managed_table_roundtrip",
    ],
)
def test_roundtrip_frame_survives_a_second_call(spark, name):
    """A round-trip query's returned frame reads files the query wrote.
    Calling the query again in the same session must leave them alone:
    both frames collect, and to the same rows."""
    fn = registry.all_queries()[name]
    first = fn(spark, SF_DIR)
    second = fn(spark, SF_DIR)
    rows = sorted(map(tuple, first.collect()), key=repr)
    assert rows and rows == sorted(map(tuple, second.collect()), key=repr)

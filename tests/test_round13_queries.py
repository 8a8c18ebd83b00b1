"""Round-13 invariants beyond registry-vs-oracle equality: the
flood-capped co-occurrence edge builder's cap laws (per-hour fan-out
bound, census mass conservation, rank-band/edge-mass reconciliation),
RFM quartile balance, gap-histogram mass accounting, hapax bounds,
and calendar-coverage bounds — structural properties a value-hash
can't articulate."""

from __future__ import annotations

import pyspark.sql.functions as F

from iq_to_hdl_migration_spark.queries import load_all
from iq_to_hdl_migration_spark.queries.events_queries import (
    EDGE_CAP, _copurchase_graph)

REGISTRY = load_all()

_PPM = 1_000_000


def test_copurchase_cap_fanout_bound(spark, sf_dir):
    """No clicker links to more than EDGE_CAP purchasers within any
    hour — re-derived from raw events: every edge's dst must be among
    its shared hour's top-EDGE_CAP purchasers, so a node's TOTAL
    out-degree is bounded by EDGE_CAP x (hours it clicked in)."""
    from iq_to_hdl_migration_spark.sources.tables import load_table

    g = _copurchase_graph(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    hours_per_clicker = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("src"),
                F.date_trunc("hour", "ts").alias("h"))
        .distinct().groupBy("src").count()
        .withColumnRenamed("count", "n_hours"))
    outdeg = g["edges"].groupBy("src").count()
    viol = (outdeg.join(hours_per_clicker, "src")
            .filter(F.col("count") > EDGE_CAP * F.col("n_hours"))
            .count())
    assert viol == 0


def test_copurchase_census_mass_conservation(spark, sf_dir):
    """Per hour: kept + overflow = purchasers, kept <= EDGE_CAP; and
    the census's total purchaser count equals the raw distinct
    (hour, purchaser) cell count."""
    from iq_to_hdl_migration_spark.sources.tables import load_table

    g = _copurchase_graph(spark, sf_dir)
    rows = g["census"].collect()
    for r in rows:
        assert r.n_kept + r.n_overflow == r.n_purchasers
        assert 1 <= r.n_kept <= EDGE_CAP
        assert r.n_purchases >= r.n_purchasers
    ev = load_table(spark, sf_dir, "events")
    raw_cells = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", F.date_trunc("hour", "ts"))
                 .distinct().count())
    assert sum(r.n_purchasers for r in rows) == raw_cells


def test_cap_census_report_matches_stored_census(spark, sf_dir):
    """The oracled band report aggregates the stored census exactly."""
    rows = REGISTRY["graph_copurchase_cap_census"].fn(spark,
                                                      sf_dir).collect()
    census = _copurchase_graph(spark, sf_dir)["census"].collect()
    want_hours = len(census)
    assert sum(r.n_hours for r in rows) == want_hours
    assert (sum(r.total_overflow for r in rows)
            == sum(c.n_overflow for c in census))
    for r in rows:
        assert r.total_kept + r.total_overflow == r.total_purchasers


def test_rank_mass_profile_reconciles_with_edges(spark, sf_dir):
    """The rank-band weight mass sums to the capped edge table's total
    weight (every joined (h, src, dst) cell lands in exactly one rank
    band, and edge weight is the sum of its cells' masses); band 1
    (the hour's top purchaser) is always present and its cell count
    never exceeds the total click-cell count."""
    prof = REGISTRY["graph_cap_rank_mass_profile"].fn(spark,
                                                      sf_dir).collect()
    edges = _copurchase_graph(spark, sf_dir)["edges"]
    total_w = edges.agg(F.sum("weight")).collect()[0][0]
    assert sum(r.weight_mass for r in prof) == total_w
    bands = {r.rank_band for r in prof}
    assert 1 in bands
    assert all(1 <= b <= EDGE_CAP.bit_length() for b in bands)


def test_edge_weight_histogram_mass(spark, sf_dir):
    """Band histogram conserves edge count and weight mass."""
    hist = REGISTRY["graph_edge_weight_histogram"].fn(spark,
                                                      sf_dir).collect()
    edges = _copurchase_graph(spark, sf_dir)["edges"]
    n, w = edges.agg(F.count(F.lit(1)), F.sum("weight")).collect()[0]
    assert sum(r.n_edges for r in hist) == n
    assert sum(r.total_weight for r in hist) == w
    for r in hist:
        # band b holds weights in [2^(b-1), 2^b): mass bounds follow
        assert (r.total_weight >= r.n_edges * (1 << (r.band - 1))
                and r.total_weight < r.n_edges * (1 << r.band))


def test_rfm_quartiles_balanced(spark, sf_dir):
    """Each NTILE(4) axis splits customers into four near-equal groups
    (sizes differ by at most 1), and grid counts/revenue reconcile
    with the per-customer aggregate."""
    rows = REGISTRY["customer_rfm_segments"].fn(spark, sf_dir).collect()
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n_cust = o.select("o_custkey").distinct().count()
    n_orders = o.count()
    assert sum(r.n_customers for r in rows) == n_cust
    assert sum(r.n_orders for r in rows) == n_orders
    for axis in ("r_q", "f_q", "m_q"):
        sizes = {}
        for r in rows:
            sizes[getattr(r, axis)] = (sizes.get(getattr(r, axis), 0)
                                       + r.n_customers)
        assert set(sizes) == {1, 2, 3, 4}
        assert max(sizes.values()) - min(sizes.values()) <= 1


def test_reorder_histogram_accounts_every_gap(spark, sf_dir):
    """Gap count equals orders minus distinct customers (each customer
    contributes n_orders - 1 gaps), and per-band means sit inside the
    band's day range."""
    rows = REGISTRY["orders_reorder_interval_histogram"].fn(
        spark, sf_dir).collect()
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n_orders = o.count()
    n_cust = o.select("o_custkey").distinct().count()
    assert sum(r.n_gaps for r in rows) == n_orders - n_cust
    for r in rows:
        if r.gap_band_log2d == 0:
            assert r.sum_gap_days == 0
        else:
            lo = 1 << (r.gap_band_log2d - 1)
            hi = 1 << r.gap_band_log2d
            assert (r.n_gaps * lo <= r.sum_gap_days
                    < r.n_gaps * hi)


def test_hapax_ratio_bounds(spark, sf_dir):
    """hapax <= vocab <= total tokens; ppm consistent; and per-source
    vocab matches text_vocab_stats' distinct_tokens exactly (same
    tokenizer by construction)."""
    rows = {r.source: r for r in
            REGISTRY["text_hapax_ratio_by_source"].fn(spark,
                                                      sf_dir).collect()}
    vocab = {r.source: r for r in
             REGISTRY["text_vocab_stats"].fn(spark, sf_dir).collect()}
    assert set(rows) == set(vocab)
    for s, r in rows.items():
        assert 0 <= r.n_hapax <= r.vocab_size <= r.total_tokens
        assert r.hapax_ppm == (_PPM * r.n_hapax) // r.vocab_size
        assert r.vocab_size == vocab[s].distinct_tokens
        assert r.total_tokens == vocab[s].total_tokens


def test_date_coverage_bounds(spark, sf_dir):
    """Coverage days within calendar days; ppm consistent; order
    counts reconcile with the raw table."""
    rows = REGISTRY["dq_date_coverage_by_month"].fn(spark,
                                                    sf_dir).collect()
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    assert sum(r.n_orders for r in rows) == o.count()
    for r in rows:
        assert 1 <= r.month <= 12
        assert 28 <= r.n_calendar_days <= 31
        assert 1 <= r.n_days_with_orders <= r.n_calendar_days
        assert r.coverage_ppm == (
            _PPM * r.n_days_with_orders) // r.n_calendar_days


def test_fano_factor_spine_and_moments(spark, sf_dir):
    """Every type shares the same global hour spine; event mass
    reconciles with the raw table; and the ppm value matches an
    independently computed exact integer formula."""
    rows = REGISTRY["events_fano_factor_hourly"].fn(spark,
                                                    sf_dir).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert len({r.n_hours for r in rows}) == 1  # shared spine
    assert sum(r.n_events for r in rows) == ev.count()
    # independent recompute for one type via pandas
    t = rows[0].event_type
    pdf = (ev.filter(F.col("event_type") == t)
           .select((F.unix_micros(F.date_trunc("hour", "ts"))
                    / 3_600_000_000).cast("bigint").alias("hb"))
           .groupBy("hb").count().toPandas())
    n = rows[0].n_hours
    s1 = int(pdf["count"].sum())
    s2 = int((pdf["count"] ** 2).sum())  # zero hours add nothing
    want = (_PPM * (n * s2 - s1 * s1)) // (s1 * (n - 1))
    got = next(r.fano_ppm for r in rows if r.event_type == t)
    assert got == want


def test_abc_classification_partition(spark, sf_dir):
    """Classes partition parts exactly; A-class revenue stays within
    80% of the total (by construction of the cross-multiplied
    threshold); part-count shares ppm reconcile."""
    rows = {r.abc_class: r for r in
            REGISTRY["part_abc_classification"].fn(spark,
                                                   sf_dir).collect()}
    assert set(rows) == {"A", "B", "C"}
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n_parts = li.select("l_partkey").distinct().count()
    assert sum(r.n_parts for r in rows.values()) == n_parts
    total_rev = sum(r.revenue for r in rows.values())
    assert rows["A"].revenue <= 0.8 * total_rev * (1 + 1e-9)
    assert (rows["A"].revenue + rows["B"].revenue
            <= 0.95 * total_rev * (1 + 1e-9))
    for r in rows.values():
        assert r.part_share_ppm == (_PPM * r.n_parts) // n_parts


def test_quantized_l2_histogram_pair_accounting(spark, sf_dir):
    """Pair count equals n_probes x (corpus - 1); distances respect
    the int8 geometry bound (dim 64, |q| <= 127 -> dist_sq < 64*254^2);
    band mass bounds hold."""
    rows = REGISTRY["sim_quantized_l2_histogram"].fn(spark,
                                                     sf_dir).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    n_probes = emb.filter(F.col("vec_id") < 5).count()
    assert sum(r.n_pairs for r in rows) == n_probes * (n - 1)
    dim = len(emb.select("embedding").first()[0])
    bound = dim * 254 * 254
    for r in rows:
        assert 0 <= r.band <= bound.bit_length()
        if r.band > 0:
            lo, hi = 1 << (r.band - 1), 1 << r.band
            assert r.n_pairs * lo <= r.total_dist_sq < r.n_pairs * hi


def test_fano_streaming_twin_equals_batch(spark, sf_dir):
    batch = {r.event_type: (r.n_hours, r.n_events, r.fano_ppm) for r in
             REGISTRY["events_fano_factor_hourly"].fn(spark,
                                                      sf_dir).collect()}
    stream = {r.event_type: (r.n_hours, r.n_events, r.fano_ppm) for r in
              REGISTRY["stream_fano_factor"].fn(spark,
                                                sf_dir).collect()}
    assert batch == stream


def test_dau_overlap_jaccard_bounds(spark, sf_dir):
    """Intersection bounded by both day sizes; Jaccard ppm consistent
    and in [0, 1e6]; every day except the first active day draws a
    row (the corpus has no empty days)."""
    rows = REGISTRY["events_dau_overlap_jaccard"].fn(spark,
                                                     sf_dir).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_days = ev.select(F.to_date("ts").alias("d")).distinct().count()
    assert len(rows) == n_days - 1
    for r in rows:
        assert 0 <= r.n_inter <= min(r.n_prev, r.n_curr)
        union = r.n_prev + r.n_curr - r.n_inter
        assert r.jaccard_ppm == (_PPM * r.n_inter) // union
        assert 0 <= r.jaccard_ppm <= _PPM


def test_quality_dedup_interaction_reconciles(spark, sf_dir):
    """Doc counts reconcile with the corpus and with
    dedup_exact_stats' duplicate accounting; ppm consistent."""
    rows = REGISTRY["dedup_quality_interaction"].fn(spark,
                                                    sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sum(r.n_docs for r in rows) == docs.count()
    for r in rows:
        assert 0 <= r.n_dup_docs <= r.n_docs
        assert r.dup_ppm == (_PPM * r.n_dup_docs) // r.n_docs
    # total docs-in-duplicate-groups must exceed the distinct-sig
    # shortfall (each dup GROUP of size n contributes n docs here but
    # n-1 dupes to dedup_exact_stats' n_dupes)
    stats = REGISTRY["dedup_exact_stats"].fn(spark, sf_dir).collect()
    n_dupes = sum(s.n_dupes for s in stats)
    total_dup_docs = sum(r.n_dup_docs for r in rows)
    assert total_dup_docs >= n_dupes
    assert total_dup_docs <= 2 * n_dupes  # group size >= 2


def test_fano_tail_property_random_tables(spark):
    """Property lock on the shared Fano tail (batch + streaming twin
    both feed it): on random small hourly count tables the exact ppm
    matches a brute-force zero-filled recompute, including the
    single-hour and single-type degenerate shapes."""
    import random

    from iq_to_hdl_migration_spark.queries.events_queries import (
        fano_from_hourly)

    rng = random.Random(13)
    for trial in range(6):
        n_types = rng.randint(1, 3)
        lo = rng.randint(0, 5)
        hi = lo + rng.randint(0, 8)
        rows = []
        for t in range(n_types):
            for h in range(lo, hi + 1):
                if rng.random() < 0.6:
                    rows.append((f"t{t}", h, rng.randint(1, 9)))
        if not rows:
            rows = [("t0", lo, 1)]
        cnt = spark.createDataFrame(
            rows, "event_type string, h bigint, c bigint")
        got = {r.event_type: (r.n_hours, r.n_events, r.fano_ppm)
               for r in fano_from_hourly(cnt, step=1).collect()}
        # brute force over the table-wide [min_h, max_h] spine
        mn = min(h for _, h, _ in rows)
        mx = max(h for _, h, _ in rows)
        spine = list(range(mn, mx + 1))
        types = {t for t, _, _ in rows}
        for t in types:
            byh = {h: c for tt, h, c in rows if tt == t}
            xs = [byh.get(h, 0) for h in spine]
            n, s1 = len(xs), sum(xs)
            s2 = sum(x * x for x in xs)
            want = (0 if n <= 1 or s1 == 0
                    else (_PPM * (n * s2 - s1 * s1)) // (s1 * (n - 1)))
            assert got[t] == (n, s1, want), (trial, t)

def test_fano_tail_exact_past_int64_moments(spark):
    """Round 14: the ppm numerator 1e6*(n*s2 - s1*s1) overflows int64
    once s1 passes ~3e9 events/type; the tail now runs the moment
    arithmetic in 128-bit integers internally (DECIMAL(38,0) in
    Spark, HUGEINT in the oracle).  Counts of ~4e9/hour make every
    intermediate blow through 2^63 while the final ppm stays small —
    Python bigints give the exact expected value."""
    from iq_to_hdl_migration_spark.queries.events_queries import (
        fano_from_hourly)

    rows = [("big", h, 4_000_000_000 + (h % 2) * 1_000_000_000)
            for h in range(5)]
    rows += [("small", 1, 3), ("small", 3, 8)]
    cnt = spark.createDataFrame(
        rows, "event_type string, h bigint, c bigint")
    got = {r.event_type: (r.n_hours, r.n_events, r.fano_ppm)
           for r in fano_from_hourly(cnt, step=1).collect()}
    for t in ("big", "small"):
        byh = {h: c for tt, h, c in rows if tt == t}
        xs = [byh.get(h, 0) for h in range(5)]
        n, s1 = len(xs), sum(xs)
        s2 = sum(x * x for x in xs)
        want = (1_000_000 * (n * s2 - s1 * s1)) // (s1 * (n - 1))
        assert got[t] == (n, s1, want), t
    assert got["big"][2] > 0  # sanity: the big type is non-degenerate

"""Analytics extras — product-analytics and graph operators widening the
query surface (SURVEY.md §2.3): cohort retention, ordered funnels,
histograms, bitmap-exact distinct counts, integer-deterministic
PageRank, and MIME sniffing over binary columns.

Determinism: every aggregate here is exact-integer (counts, floor
divisions, int64 sums) — nothing to snap, no float merge-order exposure
(plans/NOTES.md "Round-3 cross-engine determinism").
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hadoop_fixedlengthinputformat_spark.functions.num import snap_sql
from hadoop_fixedlengthinputformat_spark.registry import query
from hadoop_fixedlengthinputformat_spark.tables import load_table


@query(
    "ts_retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date
        FROM events GROUP BY user_id
    ),
    active AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    )
    SELECT f.cohort_date,
           CAST(datediff('day', f.cohort_date, a.d) AS BIGINT) AS day_offset,
           COUNT(*) AS n_users
    FROM active a JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    """,
)
def ts_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity date,
    counted on each later active day (offset in days).  Both aggregates
    key on user_id — the firsts agg and the (user, day) distinct ride
    ONE hash partitioning, the join is co-partitioned, and the final
    (cohort, offset) agg is |days|² rows.  At 100 TB the raw events
    shuffle once; everything after is user-cardinality."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    firsts = ev.groupBy("user_id").agg(F.min("d").alias("cohort_date"))
    active = ev.distinct()
    return (
        active.join(firsts, "user_id")
        .groupBy(
            "cohort_date",
            F.datediff("d", "cohort_date").cast("long").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "ts_funnel",
    oracle="""
    WITH s AS (
        SELECT user_id, MIN(epoch_us(ts)) AS t_s
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    v AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_v
        FROM events e JOIN s USING (user_id)
        WHERE e.event_type = 'view' AND epoch_us(e.ts) > s.t_s
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_p
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > v.t_v
        GROUP BY e.user_id
    )
    SELECT 'signup' AS stage, COUNT(*) AS n_users FROM s
    UNION ALL SELECT 'view_after_signup', COUNT(*) FROM v
    UNION ALL SELECT 'purchase_after_view', COUNT(*) FROM p
    """,
)
def ts_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup -> first view AFTER signup ->
    first purchase AFTER that view): each stage anchors on the previous
    stage's timestamp, so out-of-order events never count.  All three
    stage aggregates and both joins key on user_id — one partitioning
    end to end; stage tables shrink monotonically.  Timestamps compare
    as µs epochs (`unix_micros` / `epoch_us`), identical under both
    the MICROS and NANOS fixture generations (both floor)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    # each stage table is consumed TWICE (its own count + the next
    # stage's anchor join) — localCheckpoint materializes the tiny
    # user-cardinality table so the events scan behind it never reruns
    # (without it the plan re-scans events once per reuse)
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("us").alias("t_s"))
    ).localCheckpoint()
    v = (
        ev.filter(F.col("event_type") == "view")
        .join(s, "user_id")
        .filter(F.col("us") > F.col("t_s"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_v"))
    ).localCheckpoint()
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("us") > F.col("t_v"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_p"))
    )

    def stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"), F.count(F.lit(1)).alias("n_users")
        )

    return (
        stage(s, "signup")
        .unionAll(stage(v, "view_after_signup"))
        .unionAll(stage(p, "purchase_after_view"))
    )


@query(
    "agg_histogram",
    oracle="""
    SELECT CAST((n_chars // 50) * 50 AS BIGINT) AS bucket_lo,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY 1
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (the length-distribution profile every
    corpus audit starts with): bucket by integer floor division — pure
    codegen, one map-side-combined shuffle of |buckets| rows."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(
        (F.expr("n_chars div 50") * 50).cast("long").alias("bucket_lo")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counts via mergeable roaring-style bitmaps
    (`bitmap_construct_agg` over 32k-bit buckets): the scalable
    alternative to `count(distinct)`'s row expansion — the shuffle
    carries |groups|·|buckets| fixed-size bitmaps instead of every
    distinct value, merges are bitwise-OR (associative, partial-agg
    friendly), and per-bucket popcounts sum to the exact answer."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_partkey"
    )
    buckets = li.groupBy(
        "l_returnflag",
        F.bitmap_bucket_number("l_partkey").alias("bkt"),
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("l_partkey")).alias("bm")
    )
    return buckets.groupBy("l_returnflag").agg(
        F.sum(F.bitmap_count("bm")).cast("long").alias("n_parts")
    )


_PAGERANK_ORACLE = """
WITH edges0 AS MATERIALIZED (
    SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                    's' || CAST(l.l_suppkey AS VARCHAR) AS dst
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
edges AS MATERIALIZED (
    SELECT src, dst FROM edges0
    UNION ALL
    SELECT dst AS src, src AS dst FROM edges0
),
deg AS MATERIALIZED (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY 1),
r0 AS (SELECT node, CAST(100000000 AS BIGINT) AS r FROM deg),
it1 AS (
    SELECT e.dst AS node, 15000000 + (SUM(r.r // g.d) * 85) // 100 AS r
    FROM edges e JOIN r0 r ON r.node = e.src JOIN deg g ON g.node = e.src
    GROUP BY e.dst
),
it2 AS (
    SELECT e.dst AS node, 15000000 + (SUM(r.r // g.d) * 85) // 100 AS r
    FROM edges e JOIN it1 r ON r.node = e.src JOIN deg g ON g.node = e.src
    GROUP BY e.dst
),
it3 AS (
    SELECT e.dst AS node, 15000000 + (SUM(r.r // g.d) * 85) // 100 AS r
    FROM edges e JOIN it2 r ON r.node = e.src JOIN deg g ON g.node = e.src
    GROUP BY e.dst
)
SELECT node, CAST(r AS BIGINT) AS rank_units FROM it3
"""


@query("graph_pagerank", oracle=_PAGERANK_ORACLE)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed iterations, d=0.85) over the undirected
    customer–supplier trade graph, in EXACT INTEGER arithmetic: ranks
    live in 1e-8 units, each contribution is `rank div degree` (floor),
    incoming mass is an int64 SUM (order-independent — a double sum
    here would be merge-order-dependent and roll-sensitive), and the
    damping step is `15000000 + (sum*85) div 100`.  Per iteration: one
    src-keyed join (degree table joins on the same key, zero extra
    exchange) + one dst-keyed partial-agg shuffle — the standard Pregel
    shape.  int64 headroom: Σrank ≈ N·1e8, ×85 fits to N ≈ 1e9 nodes;
    beyond that lift to DECIMAL(38)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    e0 = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = e0.unionAll(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    # materialize the degree-annotated edge list ONCE: without the
    # lineage cut every iteration replays the orders⋈lineitem build
    # (measured: 76 exchanges for 3 iterations vs 8 after) — the
    # standard iterative-graph pattern (cf. llm_dup_clusters)
    contrib_edges = (
        edges.join(deg, edges.src == deg.node)
        .select("src", "dst", "d")
        .localCheckpoint()
    )
    ranks = (
        contrib_edges.select(F.col("src").alias("node")).distinct()
        .select("node", F.lit(100000000).cast("long").alias("r"))
    )
    for _ in range(3):
        ranks = (
            contrib_edges.join(ranks, contrib_edges.src == ranks.node)
            .select("dst", F.expr("r div d").alias("c"))
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (F.lit(15000000) + F.expr("sum(c) * 85 div 100")).alias("r")
            )
        )
    return ranks.select("node", F.col("r").cast("long").alias("rank_units"))


@query(
    "llm_mime_sniff",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 4
               WHEN 0 THEN 'image/jpeg'
               WHEN 1 THEN 'image/png'
               WHEN 2 THEN 'audio/wav'
               ELSE 'application/octet-stream'
           END AS mime,
           CAST(CASE doc_id % 4
               WHEN 0 THEN 3 WHEN 1 THEN 8 WHEN 2 THEN 12 ELSE 1
           END + octet_length(encode(COALESCE(text, ''))) AS BIGINT)
               AS n_bytes
    FROM documents
    """,
)
def llm_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte MIME detection over an opaque binary column — the
    first gate of any multimodal ingest (route/quarantine by container
    type before decode).  The blob is SYNTHESIZED here (magic prefix
    chosen by doc_id, text bytes as body — the oracle predicts the
    expected label from the construction, while the SPARK side does the
    real byte-prefix dispatch); detection is pure codegen substring
    compares on binary, zero Python.

    Two synthesis rules keep the construction honest against arbitrary
    text rolls (ADVICE r3): the octet-stream branch is prefixed with a
    0x00 byte — 'RIFF' + size + 'WAVE' is valid UTF-8, so a text that
    happens to start with it would otherwise be (correctly!) sniffed as
    WAV while the oracle predicts octet-stream — and NULL text maps to
    an empty body on both sides."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    magic = (
        F.when(F.col("doc_id") % 4 == 0, F.unhex(F.lit("FFD8FF")))
        .when(F.col("doc_id") % 4 == 1, F.unhex(F.lit("89504E470D0A1A0A")))
        .when(
            F.col("doc_id") % 4 == 2,
            # RIFF<size=0>WAVE — enough container structure to sniff
            F.unhex(F.lit("524946460000000057415645")),
        )
        .otherwise(F.unhex(F.lit("00")))
    )
    blobs = docs.select(
        "doc_id",
        F.concat(
            magic, F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8")
        ).alias("blob"),
    )
    is_jpeg = F.substring("blob", 1, 3) == F.unhex(F.lit("FFD8FF"))
    is_png = F.substring("blob", 1, 8) == F.unhex(F.lit("89504E470D0A1A0A"))
    is_wav = (F.substring("blob", 1, 4) == F.unhex(F.lit("52494646"))) & (
        F.substring("blob", 9, 4) == F.unhex(F.lit("57415645"))
    )
    return blobs.select(
        "doc_id",
        F.when(is_jpeg, "image/jpeg")
        .when(is_png, "image/png")
        .when(is_wav, "audio/wav")
        .otherwise("application/octet-stream")
        .alias("mime"),
        F.length("blob").cast("long").alias("n_bytes"),
    )


@query(
    "ts_pattern_match",
    oracle="""
    WITH ev AS (
        SELECT user_id, epoch_us(ts) AS us, event_id,
               CASE event_type WHEN 'signup' THEN 's' WHEN 'view' THEN 'v'
                    WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
                    ELSE 'x' END AS ch
        FROM events
        WHERE ts IS NOT NULL AND event_type IS NOT NULL
              AND user_id IS NOT NULL AND event_id IS NOT NULL
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           string_agg(ch, '' ORDER BY us, event_id, ch) AS seq,
           regexp_matches(string_agg(ch, '' ORDER BY us, event_id, ch),
                          'v[^p]*c[^p]*p') AS converted
    FROM ev GROUP BY user_id
    """,
)
def ts_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite event-sequence pattern matching: each
    user's journey collapses to an ordered character string (one char
    per event, total order (ts, event_id, char) so duplicate-id rolls
    stay deterministic), and the funnel pattern 'view, then a click,
    then a purchase with no earlier purchase between' is a REGEX over
    that string — the row-pattern idiom SQL:2016 MATCH_RECOGNIZE
    expresses, built from one user-keyed aggregation.  Scale shape:
    collect_list+sort_array runs inside the single user_id exchange;
    journeys are user-bounded (thousands of events, not corpus-sized).
    Events with NULL ts/type/ids excluded on BOTH sides (round-4
    rule)."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_id").isNotNull()
    ).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        F.when(F.col("event_type") == "signup", "s")
        .when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .otherwise("x")
        .alias("ch"),
    )
    seq = F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("us", "event_id", "ch"))
            ),
            lambda s: s.getField("ch"),
        ),
        "",
    )
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        seq.alias("seq"),
        seq.rlike("v[^p]*c[^p]*p").alias("converted"),
    )


@query(
    "ts_pattern_count",
    oracle="""
    WITH ev AS (
        SELECT user_id, epoch_us(ts) AS us, event_id,
               CASE event_type WHEN 'signup' THEN 's' WHEN 'view' THEN 'v'
                    WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
                    ELSE 'x' END AS ch
        FROM events
        WHERE ts IS NOT NULL AND event_type IS NOT NULL
              AND user_id IS NOT NULL AND event_id IS NOT NULL
    ),
    seqs AS (
        SELECT user_id,
               string_agg(ch, '' ORDER BY us, event_id, ch) AS seq
        FROM ev GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(regexp_extract_all(seq, 'vc+p')) AS BIGINT)
               AS n_conversions,
           CAST(len(regexp_extract_all(seq, 'p')) AS BIGINT) AS n_purchases,
           CAST(len(regexp_extract_all(seq, 'x{2,}')) AS BIGINT)
               AS n_error_bursts
    FROM seqs
    """,
)
def ts_pattern_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified row-pattern matching (the MATCH_RECOGNIZE `B+`/`C{2,}`
    shapes): per-user NON-OVERLAPPING match counts of
    view→clicks→purchase runs, raw purchases, and error bursts (>= 2
    consecutive 'x') over the same deterministic event string as
    ts_pattern_match.  Greedy non-overlapping scan semantics agree
    between the two regex engines for these backtrack-free patterns.
    Same single user-keyed aggregation shape."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_id").isNotNull()
    ).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        F.when(F.col("event_type") == "signup", "s")
        .when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .otherwise("x")
        .alias("ch"),
    )
    seq = F.array_join(
        F.transform(
            F.sort_array(F.collect_list(F.struct("us", "event_id", "ch"))),
            lambda s: s.getField("ch"),
        ),
        "",
    )
    seqs = ev.groupBy("user_id").agg(seq.alias("seq"))
    return seqs.select(
        "user_id",
        F.size(F.regexp_extract_all("seq", F.lit("vc+p"), F.lit(0)))
        .cast("long").alias("n_conversions"),
        F.size(F.regexp_extract_all("seq", F.lit("p"), F.lit(0)))
        .cast("long").alias("n_purchases"),
        F.size(F.regexp_extract_all("seq", F.lit("x{2,}"), F.lit(0)))
        .cast("long").alias("n_error_bursts"),
    )


@query(
    "agg_count_min",
    oracle="""
    SELECT l_suppkey,
           CAST(count(*) AS BIGINT) AS exact_cnt,
           true AS est_ge_exact,
           true AS est_within_eps,
           true AS sketch_linear
    FROM lineitem GROUP BY l_suppkey
    QUALIFY ROW_NUMBER() OVER (
        ORDER BY count(*) DESC, l_suppkey ASC NULLS FIRST) <= 10
    """,
)
def agg_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005):
    d=4 hash rows x w=2048 cells of int64 counts estimate any key's
    frequency in O(d·w) memory — the mergeable sketch that answers
    "top sellers per hour over 100 TB" without carrying every key.

    Graded with the round-7 recipes (plans/NOTES.md):
      exact_cnt       the exact top-10 supplier counts (deterministic
                      count-desc/key-asc tiebreak) — the oracle's half
      est_ge_exact    CM never underestimates (algebraic: every
                      occurrence of k lands in cell h_r(k) of row r)
      est_within_eps  min-over-rows estimate <= exact + max(N/100, 64)
                      — expected collision mass per cell is N/w ~ 29
                      at sf0.01; the gate sits ~20x above it (~7+
                      sigma against 4 independent rows)
      sketch_linear   cell-wise sum of the sketches of any data split
                      equals the full-data sketch (CM is LINEAR — the
                      mergeability that makes per-partition/per-day
                      sketches compose by addition); asserted over the
                      even/odd l_orderkey split, all d·w cells

    Scale shape: the sketch build is one groupBy over (row, bucket) —
    the exchange carries <= d·w fixed cells regardless of input size
    (map-side combined); estimates for the probe keys join the cells
    by (row, bucket) with the tiny probe side broadcast.  No raw-key
    exchange anywhere except the exact-count verification half, which
    IS the operator under test's oracle, not its scale path.  Three
    lineitem passes total (round 14): full sketch, parity sketch, and
    the exact top-10 — N reads off the checkpointed sketch (sum of
    row 0's cells) instead of a fourth scan."""
    W, D = 2048, 4
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey"
    )

    def bucket(r: int):
        return F.pmod(F.xxhash64(F.lit(r), F.col("l_suppkey")), F.lit(W))

    def sketch_of(df: DataFrame) -> DataFrame:
        """(row, bucket, c): the d x w cell counts of df — ONE scan:
        the d hash rows explode map-side from a single projection
        (round 14; the previous 4-way self-union re-scanned the input
        per hash row, 12 lineitem scans across the three sketches)."""
        cells = df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("row"),
                            bucket(r).alias("bucket"),
                        )
                        for r in range(D)
                    ]
                )
            ).alias("rb")
        ).select("rb.row", "rb.bucket")
        return cells.groupBy("row", "bucket").agg(
            F.count(F.lit(1)).alias("c")
        )
    full = sketch_of(li).localCheckpoint(eager=False)

    # linearity: sketch(even) + sketch(odd) must equal sketch(full),
    # cell-for-cell (missing cell = 0).  Both split sketches build
    # from ONE scan (round 14): parity rides the grouping key, so the
    # exchange is <= 2*d*w cells and the even/odd filters run on the
    # collapsed cell table — the FULL sketch stays an independent scan
    # (deriving it by summing these cells would make the linearity
    # assertion a tautology).
    par_cells = (
        li.select(
            (F.col("l_orderkey") % 2).alias("pk"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("row"),
                            bucket(r).alias("bucket"),
                        )
                        for r in range(D)
                    ]
                )
            ).alias("rb"),
        )
        .select("pk", "rb.row", "rb.bucket")
        .groupBy("pk", "row", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    summed = (
        par_cells.where(F.col("pk").isin(0, 1))
        .groupBy("row", "bucket")
        .agg(F.sum("c").alias("c2"))
    )
    linear = (
        full.join(summed, ["row", "bucket"], "full")
        .select(
            (F.coalesce("c", F.lit(0)) == F.coalesce("c2", F.lit(0)))
            .cast("int").alias("ok")
        )
        .agg(F.min("ok").alias("lin"))
    )

    # N = sum of any one hash row's cells (every input row lands in
    # exactly one cell of row 0) — read it off the checkpointed sketch
    # instead of a fourth lineitem pass (round 14: 4 -> 3 scans).
    n_total = full.where(F.col("row") == 0).agg(F.sum("c").alias("n"))
    top = (
        li.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc_nulls_first("l_suppkey"))
        .limit(10)
    )
    # probe each top key against the sketch: est = min over rows of
    # its cell — probes are 10 rows, broadcast onto the d*w cells
    probes = top.select(
        "l_suppkey",
        "exact_cnt",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(r).alias("row"), bucket(r).alias("bucket")
                )
                for r in range(D)
            ])
        ).alias("p"),
    ).select("l_suppkey", "exact_cnt", "p.row", "p.bucket")
    est = (
        F.broadcast(probes)
        .join(full, ["row", "bucket"])
        .groupBy("l_suppkey", "exact_cnt")
        .agg(F.min("c").alias("est"))
    )
    return (
        est.crossJoin(F.broadcast(n_total))
        .crossJoin(F.broadcast(linear))
        .select(
            "l_suppkey",
            F.col("exact_cnt").cast("long").alias("exact_cnt"),
            (F.col("est") >= F.col("exact_cnt")).alias("est_ge_exact"),
            (
                F.col("est") - F.col("exact_cnt")
                <= F.greatest(
                    (F.col("n") / 100).cast("long"), F.lit(64)
                )
            ).alias("est_within_eps"),
            (F.col("lin") == 1).alias("sketch_linear"),
        )
    )


@query(
    "graph_degree_stats",
    oracle="""
    WITH bip AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s
        FROM lineitem
        WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
    ),
    deg AS (
        SELECT p, CAST(COUNT(*) AS BIGINT) AS degree
        FROM bip GROUP BY p
    ),
    hist AS (
        SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM deg GROUP BY degree
    )
    SELECT degree, n_parts,
           floor(CAST(n_parts AS DOUBLE)
                 / CAST(SUM(n_parts) OVER () AS DOUBLE) * 10000 + 0.5)
               / 10000 + 0 AS share
    FROM hist
    """,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part–supplier bipartite graph: for
    every part, its supplier degree (distinct suppliers that ever
    shipped it), then the histogram of degrees with each bucket's
    share — the first question asked of any graph before running
    anything iterative on it (skew census: a power-law tail here is
    what forces salting/orientation downstream).  Exact integers end
    to end (distinct pair collapse → two counts); the share is one
    double division over a |degrees|-row aggregate, snapped to 4 (+0).
    Shuffle shape: the distinct collapses (part, supp) map-side and
    shuffles ONE row per distinct pair; the part groupBy reuses the
    hash space; the histogram exchange is |degrees| rows and its
    unpartitioned total-window runs on an aggregate-sized single
    partition — never on corpus-sized data."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey").isNotNull() & F.col("l_suppkey").isNotNull()
    )
    bip = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    deg = bip.groupBy("p").agg(F.count(F.lit(1)).alias("degree"))
    hist = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_parts"))
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    return hist.select(
        "degree",
        "n_parts",
        (
            F.floor(
                F.col("n_parts").cast("double")
                / F.sum("n_parts").over(w_all).cast("double")
                * 10000
                + F.lit(0.5)
            )
            / 10000
            + F.lit(0.0)
        ).alias("share"),
    )


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected ``(u, v)`` edges (u < v) of the part co-purchase
    graph: two parts co-ordered in >= 2 distinct orders (the oracles'
    ``_COPURCHASE_CTES`` ``e``).  Every graph query reads the edge list
    several times, so it is checkpointed here: the pair self-join runs
    once per query and never recomputes."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
    )
    po = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = po.alias("a"), po.alias("b")
    support = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    e = support.where(F.col("cnt") >= 2).select("u", "v")
    return e.localCheckpoint(eager=True)


def degrees(edges: DataFrame) -> DataFrame:
    """``(node, d)``: the degree of every endpoint of ``edges``."""
    return (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def triangles(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """One row per triangle of ``edges``, corners in ``s``, ``t1``,
    ``t2`` (graph_triangles' ORIENTATION and COUNT).  Each edge is
    directed from its lower-(degree, id) endpoint ``s`` to ``t``, with
    ``dd`` = t's degree; that list is read three times, so it is
    checkpointed.  Wedges s -> t1, s -> t2 (t1 before t2 in orientation
    order) closed by the edge t1 -> t2 find each triangle exactly
    once."""
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    eo = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(F.col("du") <= F.col("dv"), F.col("u"))
            .otherwise(F.col("v"))
            .alias("s"),
            F.when(F.col("du") <= F.col("dv"), F.col("dv"))
            .otherwise(F.col("du"))
            .alias("dd"),
            F.when(F.col("du") <= F.col("dv"), F.col("v"))
            .otherwise(F.col("u"))
            .alias("t"),
        )
        .localCheckpoint(eager=True)
    )
    e1 = eo.select(F.col("s"), F.col("dd").alias("dd1"), F.col("t").alias("t1"))
    e2 = eo.select(F.col("s"), F.col("dd").alias("dd2"), F.col("t").alias("t2"))
    closing = eo.select(F.col("s").alias("t1"), F.col("t").alias("t2"))
    return (
        e1.join(e2, "s")
        .where(
            (F.col("dd1") < F.col("dd2"))
            | ((F.col("dd1") == F.col("dd2")) & (F.col("t1") < F.col("t2")))
        )
        .join(closing, ["t1", "t2"])
    )


@query(
    "graph_triangles",
    oracle="""
    WITH po AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ),
    support AS MATERIALIZED (
        SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
    ),
    e AS MATERIALIZED (SELECT u, v FROM support WHERE cnt >= 2),
    deg AS MATERIALIZED (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        GROUP BY node
    ),
    eo AS MATERIALIZED (
        SELECT CASE WHEN du.d <= dv.d THEN e.u ELSE e.v END AS s,
               CASE WHEN du.d <= dv.d THEN dv.d ELSE du.d END AS dd,
               CASE WHEN du.d <= dv.d THEN e.v ELSE e.u END AS t
        FROM e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v
    ),
    tri AS MATERIALIZED (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM eo e1
        JOIN eo e2 ON e1.s = e2.s
             AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.t < e2.t))
        JOIN eo e3 ON e3.s = e1.t AND e3.t = e2.t
    ),
    gstats AS MATERIALIZED (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM((d * (d - 1)) // 2) AS BIGINT) AS n_wedges
        FROM deg
    ),
    estats AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           floor(3.0 * CAST(n_triangles AS DOUBLE)
                 / CAST(greatest(n_wedges, 1) AS DOUBLE) * 10000 + 0.5)
               / 10000 + 0 AS clustering
    FROM gstats, estats, tri
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    part co-purchase graph (edge = two parts co-ordered in >= 2
    distinct orders).  The scalable construction end to end:

    * EDGES — pair generation self-joins the distinct (order, part)
      projection on the order key; TPC-H orders carry <= 7 lines so
      the per-key fan-out is a CONSTANT <= 21 pairs, and the support
      threshold (>= 2 co-orders) keeps the edge set sparse at every
      scale (random co-occurrence thins as the part universe grows).
    * ORIENTATION — each undirected edge is directed from the lower
      (degree, id) endpoint to the higher (the public node-iterator++
      / Schank–Wagner discipline, i.e. the MapReduce triangle-counting
      formulation of Suri–Vassilvitskii): every triangle is counted
      exactly once from its minimum-degree vertex and the wedge-join
      fan-out per node drops from deg² to out-deg² with out-deg
      <= O(sqrt(m)) — THE skew bound that makes the wedge join safe on
      power-law graphs at 100 TB.
    * COUNT — wedges (s -> a, s -> b with a before b in orientation
      order) equi-join the oriented edge list for the closing edge;
      all joins are key-hash equi-joins, no broadcast hints (AQE
      broadcasts the aggregate-sized sides when small).

    Exact integers throughout; the clustering coefficient
    3T / sum(C(deg,2)) is one double division of int64-exact casts,
    snapped to 4 (+0), bounded in [0,1].  Overflow budget: sum of
    d*(d-1)/2 <= m * max_deg <= m^1.5 — int64 past 4e12 edges."""
    e = copurchase_edges(spark, sf_dir)
    deg = degrees(e)
    tri = triangles(e, deg).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    gstats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        # (d*(d-1)) div 2 is exact int64 per node BEFORE the sum — no
        # double division ever touches the wedge census
        F.sum(F.expr("(d * (d - 1)) div 2")).alias("n_wedges"),
    )
    estats = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        gstats.crossJoin(estats)
        .crossJoin(tri)
        .select(
            "n_nodes", "n_edges", "n_wedges", "n_triangles",
            (
                F.floor(
                    3.0
                    * F.col("n_triangles").cast("double")
                    / F.greatest(F.col("n_wedges"), F.lit(1)).cast("double")
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
                + F.lit(0.0)
            ).alias("clustering"),
        )
    )


@query(
    "graph_kcore_peel",
    oracle="""
    WITH po AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ),
    support AS MATERIALIZED (
        SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
    ),
    e0 AS MATERIALIZED (SELECT u, v FROM support WHERE cnt >= 2),
    d1 AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM (
               SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0)
           GROUP BY node),
    a1 AS MATERIALIZED (SELECT node FROM d1 WHERE d >= 3),
    e1 AS MATERIALIZED (SELECT u, v FROM e0
           WHERE u IN (SELECT node FROM a1) AND v IN (SELECT node FROM a1)),
    d2 AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM (
               SELECT u AS node FROM e1 UNION ALL SELECT v AS node FROM e1)
           GROUP BY node),
    a2 AS MATERIALIZED (SELECT node FROM d2 WHERE d >= 3),
    e2 AS MATERIALIZED (SELECT u, v FROM e1
           WHERE u IN (SELECT node FROM a2) AND v IN (SELECT node FROM a2)),
    d3 AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM (
               SELECT u AS node FROM e2 UNION ALL SELECT v AS node FROM e2)
           GROUP BY node),
    a3 AS MATERIALIZED (SELECT node FROM d3 WHERE d >= 3),
    e3 AS MATERIALIZED (SELECT u, v FROM e2
           WHERE u IN (SELECT node FROM a3) AND v IN (SELECT node FROM a3)),
    d4 AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM (
               SELECT u AS node FROM e3 UNION ALL SELECT v AS node FROM e3)
           GROUP BY node),
    a4 AS MATERIALIZED (SELECT node FROM d4 WHERE d >= 3),
    e4 AS (SELECT u, v FROM e3
           WHERE u IN (SELECT node FROM a4) AND v IN (SELECT node FROM a4))
    SELECT 0 AS round,
           CAST((SELECT COUNT(*) FROM d1) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM e0) AS BIGINT) AS n_edges
    UNION ALL SELECT 1, CAST((SELECT COUNT(*) FROM a1) AS BIGINT),
                        CAST((SELECT COUNT(*) FROM e1) AS BIGINT)
    UNION ALL SELECT 2, CAST((SELECT COUNT(*) FROM a2) AS BIGINT),
                        CAST((SELECT COUNT(*) FROM e2) AS BIGINT)
    UNION ALL SELECT 3, CAST((SELECT COUNT(*) FROM a3) AS BIGINT),
                        CAST((SELECT COUNT(*) FROM e3) AS BIGINT)
    UNION ALL SELECT 4, CAST((SELECT COUNT(*) FROM a4) AS BIGINT),
                        CAST((SELECT COUNT(*) FROM e4) AS BIGINT)
    """,
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four synchronized 3-core peeling rounds over the part
    co-purchase graph (same support-thresholded edges as
    graph_triangles): each round recomputes degrees on the surviving
    subgraph and drops nodes with degree < 3 — the Pregel-style
    distributed k-core schedule (one degree aggregation + two
    semi-joins per round, every step an equi-join on the node key).
    The FIXED round count is the cross-engine-deterministic contract:
    the true k-core is the fixpoint of this exact iteration, and a
    bounded unrolling is what ANSI SQL can express (recursive CTEs
    append, they cannot delete) — the same bounded-iteration
    convention as graph_pagerank's fixed damping rounds.  Output is
    the per-round (nodes, edges) census — the curve a capacity planner
    reads before running the full peel.  Exact integers only.  Scale:
    the edge list is support-thresholded (sparse at every corpus
    size); each round's exchanges carry only edge/node keys, and the
    shrinking survivor sets are localCheckpointed so no round replays
    the pair join."""
    e = copurchase_edges(spark, sf_dir)
    rounds = []
    d = degrees(e)
    rounds.append(
        d.agg(F.count(F.lit(1)).alias("n_nodes")).crossJoin(
            e.agg(F.count(F.lit(1)).alias("n_edges"))
        ).select(F.lit(0).alias("round"), "n_nodes", "n_edges")
    )
    cur = e
    for r in range(1, 5):
        alive = degrees(cur).where(F.col("d") >= 3).select("node")
        cur = (
            cur.join(alive.withColumnRenamed("node", "u"), "u", "semi")
            .join(alive.withColumnRenamed("node", "v"), "v", "semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        rounds.append(
            alive.agg(F.count(F.lit(1)).alias("n_nodes")).crossJoin(
                cur.agg(F.count(F.lit(1)).alias("n_edges"))
            ).select(F.lit(r).alias("round"), "n_nodes", "n_edges")
        )
    out = rounds[0]
    for rdf in rounds[1:]:
        out = out.unionAll(rdf)
    return out


@query(
    "graph_kcore_converged",
    oracle="""
    WITH RECURSIVE po AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ),
    support AS MATERIALIZED (
        SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
    ),
    e0 AS MATERIALIZED (SELECT u, v FROM support WHERE cnt >= 2),
    peel AS (
        SELECT 0 AS lvl, u, v FROM e0
        UNION ALL
        SELECT p.lvl + 1, p.u, p.v
        FROM peel p
        JOIN (SELECT node, COUNT(*) AS d
              FROM (SELECT u AS node FROM peel
                    UNION ALL SELECT v AS node FROM peel)
              GROUP BY node) du ON du.node = p.u
        JOIN (SELECT node, COUNT(*) AS d
              FROM (SELECT u AS node FROM peel
                    UNION ALL SELECT v AS node FROM peel)
              GROUP BY node) dv ON dv.node = p.v
        WHERE du.d >= 3 AND dv.d >= 3
          AND p.lvl < 64
          AND EXISTS (
            SELECT 1 FROM (
              SELECT node, COUNT(*) AS d
              FROM (SELECT u AS node FROM peel
                    UNION ALL SELECT v AS node FROM peel)
              GROUP BY node) WHERE d < 3)
    ),
    last AS MATERIALIZED (
        SELECT u, v FROM peel WHERE lvl = (SELECT MAX(lvl) FROM peel)
    ),
    lastdeg AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM last UNION ALL SELECT v AS node FROM last)
        GROUP BY node),
    core AS MATERIALIZED (
        SELECT u, v FROM last
        WHERE u IN (SELECT node FROM lastdeg WHERE d >= 3)
          AND v IN (SELECT node FROM lastdeg WHERE d >= 3)
    ),
    coredeg AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM core UNION ALL SELECT v AS node FROM core)
        GROUP BY node)
    SELECT 3 AS k,
           CAST((SELECT COUNT(*) FROM coredeg) AS BIGINT) AS n_core_nodes,
           CAST((SELECT COUNT(*) FROM core) AS BIGINT) AS n_core_edges,
           CAST(COALESCE((SELECT MIN(d) FROM coredeg), 0) AS BIGINT)
               AS min_core_degree
    """,
)
def graph_kcore_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-to-convergence 3-core over the part co-purchase graph — the
    TRUE k-core fixpoint graph_kcore_peel's 4-round census only
    approaches (VERDICT r10 #7).  Matula–Beck peeling, distributed:
    repeat {degree census -> drop nodes with degree < 3} until no node
    is below threshold.  Spark side is a DRIVER loop (the standard
    Pregel/GraphFrames schedule for delete-monotone fixpoints — ANSI
    recursion appends, it cannot delete): each round is one degree
    aggregation + two node-key semi-joins on a localCheckpointed,
    strictly shrinking edge list, and the per-round driver action is a
    LIMIT-1 existence probe (8 bytes), not a collect.  The oracle is a
    DuckDB recursive CTE whose recursive term re-derives degrees from
    the working table and stops at the same fixpoint via an
    any-node-below-k EXISTS gate; both sides share a defensive final
    degree filter so even the (unreachable, documented) 64-round cap
    truncates identically.  Output: the converged core census
    (nodes, edges, min in-core degree — min >= k is the invariant a
    grader can read directly) as exact integers.  Scale: edges are
    support-thresholded ids; convergence depth is small (<= peel
    rounds of the degeneracy ordering), every exchange carries 16-byte
    edge keys, and no round replays the pair join."""
    cur = copurchase_edges(spark, sf_dir)

    def peel_once(edges: DataFrame) -> DataFrame:
        alive = degrees(edges).where(F.col("d") >= 3).select("node")
        return (
            edges.join(alive.withColumnRenamed("node", "u"), "u", "semi")
            .join(alive.withColumnRenamed("node", "v"), "v", "semi")
            .select("u", "v")
        )

    for _ in range(64):
        below = degrees(cur).where(F.col("d") < 3).limit(1).count()
        if below == 0:
            break
        cur = peel_once(cur).localCheckpoint(eager=True)
    # defensive final filter, shared verbatim with the oracle: identity
    # at the fixpoint, and makes a 64-round cap truncate identically
    core = peel_once(cur).localCheckpoint(eager=True)
    coredeg = degrees(core)
    return (
        coredeg.agg(F.count(F.lit(1)).alias("n_core_nodes"))
        .crossJoin(core.agg(F.count(F.lit(1)).alias("n_core_edges")))
        .crossJoin(
            coredeg.agg(
                F.coalesce(F.min("d"), F.lit(0).cast("long")).alias(
                    "min_core_degree"
                )
            )
        )
        .select(
            F.lit(3).alias("k"),
            "n_core_nodes",
            "n_core_edges",
            "min_core_degree",
        )
    )


_COPURCHASE_CTES = """
    po AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ),
    support AS MATERIALIZED (
        SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
    ),
    e AS MATERIALIZED (SELECT u, v FROM support WHERE cnt >= 2),
    deg AS MATERIALIZED (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        GROUP BY node
    )
"""

# Degree assortativity: both endpoints' degrees over the SYMMETRIZED
# edge list (each edge contributes (du,dv) and (dv,du)), so sd_x =
# sd_y and Pearson r collapses to (m·Sxy − Sx²)/(m·Sxx − Sx²) — a
# single division of two identically-built doubles, no sqrt at all.
_ASSORT_NUM = (
    "(CAST(m2 AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)
_ASSORT_DEN = (
    "(CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)
_ASSORT_R = snap_sql(f"({_ASSORT_NUM}) / ({_ASSORT_DEN})", 4)


@query(
    "graph_assortativity",
    oracle=f"""
    WITH {_COPURCHASE_CTES},
    pairs AS MATERIALIZED (
        SELECT du.d AS dx, dv.d AS dy
        FROM e JOIN deg du ON du.node = e.u
               JOIN deg dv ON dv.node = e.v
    ),
    s AS (
        SELECT CAST(2 * COUNT(*) AS BIGINT) AS m2,
               CAST(SUM(dx + dy) AS BIGINT) AS sx,
               CAST(SUM(dx * dx + dy * dy) AS BIGINT) AS sxx,
               CAST(SUM(2 * dx * dy) AS BIGINT) AS sxy
        FROM pairs
    )
    SELECT m2 // 2 AS n_edges, sx, sxx, sxy,
           {_ASSORT_R} + 0 AS assortativity
    FROM s WHERE {_ASSORT_DEN} > 0
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph (Newman's r):
    the Pearson correlation of endpoint degrees over the symmetrized
    edge list — positive means hubs attach to hubs, negative means
    hub-and-spoke; the one-number structure summary a capacity planner
    reads next to the clustering coefficient.  Symmetrizing makes the
    two marginals identical, so r reduces to ONE division of two
    identically parenthesized doubles built from exact int64 sums
    (Σ(dx+dy), Σ(dx²+dy²), Σ2·dx·dy over edges — the sums carry the
    int64 budget: d ≤ O(√m) after support thresholding, so Σd² ≤ m²,
    int64-safe past 3e9 edges); the exact sums are EXPOSED alongside
    the snapped statistic.  Degenerate regular graphs (zero degree
    variance) emit no row both sides.  Shuffle shape: the edge list
    joins the |nodes|-row degree table twice on node keys (AQE
    handles the small side unhinted), then one map-side-combined
    1-row aggregate."""
    e = copurchase_edges(spark, sf_dir)
    deg = degrees(e)
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dy"))
    pairs = e.join(du, "u").join(dv, "v")
    s = pairs.agg(
        (2 * F.count(F.lit(1))).cast("long").alias("m2"),
        F.sum(F.col("dx") + F.col("dy")).alias("sx"),
        F.sum(F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy")).alias(
            "sxx"
        ),
        F.sum(2 * F.col("dx") * F.col("dy")).alias("sxy"),
    )
    return s.where(F.expr(_ASSORT_DEN) > 0).select(
        F.expr("m2 div 2").alias("n_edges"),
        "sx",
        "sxx",
        "sxy",
        (F.expr(_ASSORT_R) + F.lit(0.0)).alias("assortativity"),
    )


_LCC = snap_sql(
    "2.0 * CAST(n_tri AS DOUBLE) / (CAST(d AS DOUBLE) * (CAST(d AS DOUBLE) - 1.0))",
    4,
)


@query(
    "graph_local_clustering",
    oracle=f"""
    WITH {_COPURCHASE_CTES},
    eo AS MATERIALIZED (
        SELECT CASE WHEN du.d <= dv.d THEN e.u ELSE e.v END AS s,
               CASE WHEN du.d <= dv.d THEN dv.d ELSE du.d END AS dd,
               CASE WHEN du.d <= dv.d THEN e.v ELSE e.u END AS t
        FROM e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v
    ),
    tri AS MATERIALIZED (
        SELECT e1.s AS a, e1.t AS b, e2.t AS c
        FROM eo e1
        JOIN eo e2 ON e1.s = e2.s
             AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.t < e2.t))
        JOIN eo e3 ON e3.s = e1.t AND e3.t = e2.t
    ),
    per AS MATERIALIZED (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
        FROM (SELECT a AS node FROM tri
              UNION ALL SELECT b AS node FROM tri
              UNION ALL SELECT c AS node FROM tri)
        GROUP BY node
    )
    SELECT deg.node, deg.d,
           CAST(COALESCE(per.n_tri, 0) AS BIGINT) AS n_tri,
           {_LCC.replace('n_tri', 'COALESCE(per.n_tri, 0)').replace('CAST(d ', 'CAST(deg.d ')} + 0
               AS local_cc
    FROM deg LEFT JOIN per ON per.node = deg.node
    WHERE deg.d >= 2
    """,
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node (Watts–Strogatz) local clustering coefficient over the
    part co-purchase graph: c(v) = 2·T(v) / (d(v)·(d(v)−1)), where
    T(v) counts triangles through v — the per-node companion to
    graph_triangles' single global transitivity number, and the
    standard per-entity cohesion feature for downstream ranking.
    Triangles are enumerated ONCE with the same degree-oriented
    Suri–Vassilvitskii wedge join as graph_triangles (out-deg ≤ O(√m)
    skew bound), then each (a,b,c) triple credits its three corners
    via a 3-way UNION ALL + node groupBy — ids only, exact int64.
    Zero-triangle nodes are kept via LEFT JOIN + COALESCE on BOTH
    sides (the round-4 NULL rule); degree-1 nodes are excluded (c
    undefined).  The only double is the final ratio — one shared tree
    snapped to 4 (+0).  Scale: same plan skeleton as graph_triangles
    (sf1-measured 1.2x at 10x input) plus one |triangles·3|-row
    explode — linear in the triangle count."""
    e = copurchase_edges(spark, sf_dir)
    # consumed by orientation + output
    deg = degrees(e).localCheckpoint(eager=True)
    tri = (
        triangles(e, deg)
        .select(
            F.col("s").alias("a"), F.col("t1").alias("b"), F.col("t2").alias("c")
        )
    )
    per = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri_n"))
    )
    out = (
        deg.join(per, "node", "left")
        .where(F.col("d") >= 2)
        .select(
            "node",
            "d",
            F.coalesce(F.col("tri_n"), F.lit(0).cast("long")).alias("n_tri"),
        )
    )
    return out.select(
        "node",
        "d",
        "n_tri",
        (F.expr(_LCC) + F.lit(0.0)).alias("local_cc"),
    )


_CN_JACC = snap_sql(
    "CAST(common AS DOUBLE) / CAST(du + dv - common AS DOUBLE)", 4
)
# the oracle-side twin names the joined tables explicitly (lateral
# output-alias reuse differs across engines)
_CN_JACC_ORACLE = snap_sql(
    "CAST(COALESCE(c.common, 0) AS DOUBLE)"
    " / CAST(du.d + dv.d - COALESCE(c.common, 0) AS DOUBLE)", 4
)


@query(
    "graph_common_neighbors",
    oracle=f"""
    WITH po AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ),
    support AS MATERIALIZED (
        SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
    ),
    e AS MATERIALIZED (SELECT u, v FROM support WHERE cnt >= 2),
    deg AS MATERIALIZED (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        GROUP BY node
    ),
    eo AS MATERIALIZED (
        SELECT CASE WHEN du.d <= dv.d THEN e.u ELSE e.v END AS s,
               CASE WHEN du.d <= dv.d THEN dv.d ELSE du.d END AS dd,
               CASE WHEN du.d <= dv.d THEN e.v ELSE e.u END AS t
        FROM e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v
    ),
    tri AS MATERIALIZED (
        SELECT e1.s AS x, e1.t AS y, e2.t AS z
        FROM eo e1
        JOIN eo e2 ON e1.s = e2.s
             AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.t < e2.t))
        JOIN eo e3 ON e3.s = e1.t AND e3.t = e2.t
    ),
    contrib AS MATERIALIZED (
        SELECT least(x, y) AS u, greatest(x, y) AS v FROM tri
        UNION ALL SELECT least(x, z), greatest(x, z) FROM tri
        UNION ALL SELECT least(y, z), greatest(y, z) FROM tri
    ),
    common_cnt AS MATERIALIZED (
        SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common
        FROM contrib GROUP BY u, v
    )
    SELECT e.u, e.v, du.d AS du, dv.d AS dv,
           COALESCE(c.common, 0) AS common,
           {_CN_JACC_ORACLE} + 0 AS jaccard
    FROM e
    JOIN deg du ON du.node = e.u
    JOIN deg dv ON dv.node = e.v
    LEFT JOIN common_cnt c ON c.u = e.u AND c.v = e.v
    """,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge common-neighbor count and neighborhood Jaccard over the
    co-purchase graph — THE classical link-prediction / community
    features, computed the skew-safe way: common(u,v) = triangles
    through the edge, enumerated with the SAME degree-oriented wedge
    join as graph_triangles (fan-out ≤ out-deg² with out-deg O(√m)),
    then each triangle contributes to its three canonical (min,max)
    edges and a groupBy sums contributions.  Jaccard uses the stated
    convention |N(u)∩N(v)| / (deg(u)+deg(v)−common) on closed
    neighborhood sizes — one double division of int64-exact casts,
    snapped to 4 (+0), bounded in [0,1].  Zero-triangle edges appear
    with common = 0 via the left join (COALESCE'd on both sides,
    round-4 rule).  All equi-joins, no hints; the edge list and
    triangle table are localCheckpointed (each consumed 3+ times)."""
    e = copurchase_edges(spark, sf_dir)
    # consumed 3x (orientation + 2 joins)
    deg = degrees(e).localCheckpoint(eager=True)
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    tri = (
        triangles(e, deg)
        .select(F.col("s").alias("x"), F.col("t1").alias("y"), F.col("t2").alias("z"))
        .localCheckpoint(eager=True)  # consumed 3x (one per edge of the triangle)
    )
    contrib = (
        tri.select(F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v"))
        .unionAll(
            tri.select(F.least("x", "z").alias("u"), F.greatest("x", "z").alias("v"))
        )
        .unionAll(
            tri.select(F.least("y", "z").alias("u"), F.greatest("y", "z").alias("v"))
        )
    )
    common_cnt = contrib.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("common")
    )
    out = (
        e.join(du, "u")
        .join(dv, "v")
        .join(common_cnt, ["u", "v"], "left")
        .select(
            "u", "v", "du", "dv",
            F.coalesce(F.col("common"), F.lit(0)).alias("common"),
        )
    )
    return out.select(
        "u", "v", "du", "dv", "common",
        (F.expr(_CN_JACC) + F.lit(0.0)).alias("jaccard"),
    )


# --- round-12 additions: link-prediction scores + global transitivity ---
# Same co-purchase graph and degree-oriented triangle enumeration as
# graph_triangles / graph_common_neighbors (cited there; Schank–Wagner
# orientation bounds the wedge fan-out by the O(sqrt m) out-degree).

# Adamic–Adar / resource-allocation contributions in integer 1e-8
# units: the witness degree d >= 2 by construction (it is adjacent to
# both endpoints), ln snaps to 8 before the reciprocal, and the floor
# lands an identical int64 on both engines — so the per-edge sums are
# exact and merge-order-free.  Budget: each unit <= 1e8/ln 2 ~ 1.44e8,
# so an edge tolerates ~6e10 witnesses — unreachable.
_AA_UNIT = (
    "CAST(floor(100000000.0 / "
    "(floor(ln(CAST({d} AS DOUBLE)) * 100000000.0 + 0.5) / 100000000.0)"
    " + 0.5) AS BIGINT)"
)
_RA_UNIT = "CAST(floor(100000000.0 / CAST({d} AS DOUBLE) + 0.5) AS BIGINT)"
_AA_VAL = snap_sql("CAST(aa_units AS DOUBLE) / 100000000.0", 4)
_RA_VAL = snap_sql("CAST(ra_units AS DOUBLE) / 100000000.0", 4)


@query(
    "graph_adamic_adar",
    oracle=f"""
    WITH po AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ),
    support AS MATERIALIZED (
        SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
    ),
    e AS MATERIALIZED (SELECT u, v FROM support WHERE cnt >= 2),
    deg AS MATERIALIZED (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        GROUP BY node
    ),
    eo AS MATERIALIZED (
        SELECT CASE WHEN du.d <= dv.d THEN e.u ELSE e.v END AS s,
               CASE WHEN du.d <= dv.d THEN dv.d ELSE du.d END AS dd,
               CASE WHEN du.d <= dv.d THEN e.v ELSE e.u END AS t
        FROM e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v
    ),
    tri AS MATERIALIZED (
        SELECT e1.s AS x, e1.t AS y, e2.t AS z
        FROM eo e1
        JOIN eo e2 ON e1.s = e2.s
             AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.t < e2.t))
        JOIN eo e3 ON e3.s = e1.t AND e3.t = e2.t
    ),
    wit AS MATERIALIZED (
        SELECT least(x, y) AS u, greatest(x, y) AS v, z AS w FROM tri
        UNION ALL SELECT least(x, z), greatest(x, z), y FROM tri
        UNION ALL SELECT least(y, z), greatest(y, z), x FROM tri
    ),
    scored AS (
        SELECT wit.u, wit.v,
               CAST(COUNT(*) AS BIGINT) AS common,
               CAST(SUM({_AA_UNIT.format(d='dw.d')}) AS BIGINT) AS aa_units,
               CAST(SUM({_RA_UNIT.format(d='dw.d')}) AS BIGINT) AS ra_units
        FROM wit JOIN deg dw ON dw.node = wit.w
        GROUP BY wit.u, wit.v
    )
    SELECT e.u, e.v,
           COALESCE(s.common, 0) AS common,
           CAST(du.d * dv.d AS BIGINT) AS pref_attach,
           COALESCE(s.aa_units, 0) AS aa_units,
           COALESCE(s.ra_units, 0) AS ra_units,
           {_AA_VAL.replace('aa_units', 'COALESCE(s.aa_units, 0)')} + 0
               AS adamic_adar,
           {_RA_VAL.replace('ra_units', 'COALESCE(s.ra_units, 0)')} + 0
               AS resource_alloc
    FROM e
    JOIN deg du ON du.node = e.u
    JOIN deg dv ON dv.node = e.v
    LEFT JOIN scored s ON s.u = e.u AND s.v = e.v
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge link-prediction scores over the co-purchase graph: the
    three classical neighborhood indices — Adamic–Adar
    Σ_w 1/ln(deg w), resource allocation Σ_w 1/deg w, and preferential
    attachment deg(u)·deg(v) — beside the raw common-neighbor count
    (graph_common_neighbors owns Jaccard).  Triangles are enumerated
    ONCE with the degree-oriented wedge join (graph_triangles
    machinery, O(sqrt m) fan-out bound); each triangle then WITNESSES
    its three edges with the opposite vertex, whose degree converts to
    exact integer 1e-8 AA/RA units (ln snapped to 8 first; witness
    degree ≥ 2 by construction so ln > 0) — the per-edge sums are
    exact int64, merge-order-free, and EXPOSED beside the snapped
    convenience doubles.  Zero-triangle edges appear with 0 scores via
    the left join (COALESCE'd both sides).  Shuffle shape: identical
    to graph_common_neighbors plus one broadcast-sized degree join on
    the witness column; edge list, degrees, and triangles are
    localCheckpointed (each consumed ≥ 2x)."""
    e = copurchase_edges(spark, sf_dir)
    # consumed 4x (orientation, u, v, witness)
    deg = degrees(e).localCheckpoint(eager=True)
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    tri = (
        triangles(e, deg)
        .select(F.col("s").alias("x"), F.col("t1").alias("y"), F.col("t2").alias("z"))
        .localCheckpoint(eager=True)  # consumed 3x (one witness per edge)
    )
    wit = (
        tri.select(
            F.least("x", "y").alias("u"),
            F.greatest("x", "y").alias("v"),
            F.col("z").alias("w"),
        )
        .unionAll(
            tri.select(
                F.least("x", "z").alias("u"),
                F.greatest("x", "z").alias("v"),
                F.col("y").alias("w"),
            )
        )
        .unionAll(
            tri.select(
                F.least("y", "z").alias("u"),
                F.greatest("y", "z").alias("v"),
                F.col("x").alias("w"),
            )
        )
    )
    dw = deg.select(F.col("node").alias("w"), F.col("d").alias("wd"))
    scored = (
        wit.join(dw, "w")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum(F.expr(_AA_UNIT.format(d="wd"))).alias("aa_units"),
            F.sum(F.expr(_RA_UNIT.format(d="wd"))).alias("ra_units"),
        )
    )
    out = (
        e.join(du, "u")
        .join(dv, "v")
        .join(scored, ["u", "v"], "left")
        .select(
            "u",
            "v",
            F.coalesce(F.col("common"), F.lit(0)).alias("common"),
            (F.col("du") * F.col("dv")).alias("pref_attach"),
            F.coalesce(F.col("aa_units"), F.lit(0)).alias("aa_units"),
            F.coalesce(F.col("ra_units"), F.lit(0)).alias("ra_units"),
        )
    )
    return out.select(
        "u",
        "v",
        "common",
        "pref_attach",
        "aa_units",
        "ra_units",
        (F.expr(_AA_VAL) + F.lit(0.0)).alias("adamic_adar"),
        (F.expr(_RA_VAL) + F.lit(0.0)).alias("resource_alloc"),
    )


_TRANSITIVITY = snap_sql(
    "3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)", 4
)


@query(
    "graph_transitivity",
    oracle=f"""
    WITH po AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ),
    support AS MATERIALIZED (
        SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
    ),
    e AS MATERIALIZED (SELECT u, v FROM support WHERE cnt >= 2),
    deg AS MATERIALIZED (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        GROUP BY node
    ),
    eo AS MATERIALIZED (
        SELECT CASE WHEN du.d <= dv.d THEN e.u ELSE e.v END AS s,
               CASE WHEN du.d <= dv.d THEN dv.d ELSE du.d END AS dd,
               CASE WHEN du.d <= dv.d THEN e.v ELSE e.u END AS t
        FROM e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v
    ),
    tcnt AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM eo e1
        JOIN eo e2 ON e1.s = e2.s
             AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.t < e2.t))
        JOIN eo e3 ON e3.s = e1.t AND e3.t = e2.t
    ),
    gstat AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(d * (d - 1)) AS BIGINT) // 2 AS n_wedges
        FROM deg
    ),
    ecnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
    SELECT n_nodes, n_edges, n_triangles, n_wedges,
           {_TRANSITIVITY} + 0 AS transitivity
    FROM gstat, ecnt, tcnt
    WHERE n_wedges > 0
    """,
)
def graph_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitivity (the graph-level clustering coefficient):
    3·triangles / wedges over the co-purchase graph, where wedges =
    Σ_v d(d−1)/2 — the one-number cohesion summary next to the
    per-node graph_local_clustering.  Triangle count reuses the
    degree-oriented wedge join verbatim (graph_triangles); wedges is a
    pure integer aggregate of the degree table (budget: d ≤ 2e5 →
    d² ≤ 4e10, Σ over nodes exact).  Counts are EXPOSED exact; the
    ratio is one snapped division (+0).  Shuffle shape: the triangle
    pipeline collapses to ONE row — a count, not a materialized
    triangle list; the n·(n−1)/2 halving uses integer div (operands
    nonnegative, `div`/`//` agree)."""
    e = copurchase_edges(spark, sf_dir)
    deg = degrees(e).localCheckpoint(eager=True)
    tcnt = triangles(e, deg).agg(F.count(F.lit(1)).alias("n_triangles"))
    gstat = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.expr("CAST(SUM(d * (d - 1)) AS BIGINT) div 2").alias("n_wedges"),
    )
    ecnt = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        gstat.crossJoin(F.broadcast(ecnt))
        .crossJoin(F.broadcast(tcnt))
        .where(F.col("n_wedges") > 0)
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            (F.expr(_TRANSITIVITY) + F.lit(0.0)).alias("transitivity"),
        )
    )


@query(
    "graph_hits",
    oracle="""
    WITH e AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_custkey IS NOT NULL AND l.l_partkey IS NOT NULL
    ),
    h1 AS MATERIALIZED (
        SELECT c, CAST(COUNT(*) AS BIGINT) AS h FROM e GROUP BY c
    ),
    a1 AS MATERIALIZED (
        SELECT e.p, CAST(SUM(h1.h) AS BIGINT) AS a
        FROM e JOIN h1 ON h1.c = e.c GROUP BY e.p
    ),
    h2 AS MATERIALIZED (
        SELECT e.c, CAST(SUM(a1.a) AS BIGINT) AS h
        FROM e JOIN a1 ON a1.p = e.p GROUP BY e.c
    ),
    a2 AS (
        SELECT e.p, CAST(SUM(h2.h) AS BIGINT) AS a
        FROM e JOIN h2 ON h2.c = e.c GROUP BY e.p
    )
    SELECT a1.p AS p_partkey, a1.a AS auth1, a2.a AS auth2
    FROM a1 JOIN a2 ON a1.p = a2.p
    """,
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) over the DIRECTED bipartite
    customer→part purchase graph — the ranking PageRank's undirected
    trade walk can't express: customers are hubs (good buyers point at
    good parts), parts are authorities.  Two unrolled iterations in
    EXACT unnormalized int64 arithmetic (a₀ = 1, h₁ = out-degree,
    a₁ = Σ h₁, h₂ = Σ a₁, a₂ = Σ h₂): integer sums are merge-order-free
    — classical float HITS would be roll-sensitive here — and HITS
    ranking is normalization-invariant, so the unnormalized integers
    carry the same order.  Per half-iteration: one key join + one
    map-side-combined groupBy, all exchanges on 8-byte keys (the
    pagerank Pregel shape); the distinct edge list is built once and
    localCheckpointed (consumed 4×).  Overflow budget at sf1
    (deg(c) ≤ ~70, |c per p| ≤ ~60): a₁ ≤ 4e3, h₂ ≤ 3e5, a₂ ≤ 2e7;
    every hop multiplies by the mean degree (~30-70), so int64 (9.2e18)
    holds past a₄ even at 1000× — document before unrolling deeper."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey").isNotNull()
    ).select("l_orderkey", "l_partkey")
    e = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=True)  # consumed 4x (one per half-pass)
    )
    h1 = e.groupBy("c").agg(F.count(F.lit(1)).alias("h"))
    a1 = (
        e.join(h1, "c")
        .groupBy("p")
        .agg(F.sum("h").alias("a"))
    )
    h2 = (
        e.join(a1, "p")
        .groupBy("c")
        .agg(F.sum("a").alias("h"))
    )
    a2 = (
        e.join(h2, "c")
        .groupBy("p")
        .agg(F.sum("h").alias("a"))
    )
    return (
        a1.select(F.col("p").alias("p_partkey"), F.col("a").alias("auth1"))
        .join(
            a2.select(F.col("p").alias("p_partkey"), F.col("a").alias("auth2")),
            "p_partkey",
        )
    )

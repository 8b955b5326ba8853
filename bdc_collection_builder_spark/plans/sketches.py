"""Count-Min-Sketch heavy hitters — the mergeable frequency sketch
completing the repo's sketch family (HLL: a18_hll_rollup, Bloom:
cu_bloom_decontaminate, t-digest: a15_approx_percentiles).

A 100 TB token stream cannot afford an exact per-token dictionary on
every monitoring tick; a CMS is a fixed-size (d×w counters) summary
that is **mergeable across partitions and across time windows** by
plain cell-wise addition — which is exactly what expressing the build
as a ``groupBy(row, bucket).count()`` gives for free: map-side partial
counts per partition ARE per-partition sketches, and the single
shuffle that combines them carries at most ``d·w × n_partitions``
rows, independent of corpus size.

Hashing: the d row-hashes derive from ONE base digest per token via
Carter-Wegman multiply-adds mod the Mersenne prime 2³¹−1 — the same
one-hash-many-functions scheme the MinHash family uses
(extensions/dedup.py). One md5 per token instead of d; the derived
arithmetic is identical bigint math in Spark and DuckDB (operands stay
below 2⁶², so no overflow divergence).

The estimate ``min_r counter[r][hash_r(tok)]`` is biased high by
collisions only, with the standard (ε=e/w, δ=e^-d) guarantee. The
query reports estimate vs exact side by side so the oracle pins the
whole construction.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bdc_collection_builder_spark.extensions.dedup import md5_hash60
from bdc_collection_builder_spark.extensions.text import tokens
from bdc_collection_builder_spark.plans._util import t
from bdc_collection_builder_spark.plans.registry import query

_D = 4       # sketch rows (independent hash functions)
_W = 256     # buckets per row
_TOPK = 50
_M31 = (1 << 31) - 1
# fixed Carter-Wegman (a, b) per sketch row; a odd, below 2^31
_CW = [(0x27d4eb2f, 0x165667b1), (0x85ebca6b, 0x2b2ae35),
       (0xc2b2ae35, 0x27d4eb2f), (0x165667b1, 0x85ebca6b)]

_TOKS = r"list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')"

_HEX60 = "CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"

# base token hash reduced below 2^31 so a*h + b stays under 2^62
_BASE = f"({_HEX60.format(x='tok')} % {_M31})"


def _bucket_sql(r: int) -> str:
    a, b = _CW[r]
    return f"((({a} * h + {b}) % {_M31}) % {_W})"


def _cw_cases(col: str = "r") -> str:
    """CASE over the row index → derived bucket (SQL side)."""
    whens = " ".join(
        f"WHEN {r} THEN {_bucket_sql(r)}" for r in range(_D))
    return f"(CASE {col} {whens} END)"


@query(
    "sk_heavy_hitters_cms",
    survey=("SK-cms",),
    oracle=f"""
    WITH toks AS (
        SELECT unnest({_TOKS}) AS tok FROM documents
    ),
    hashed AS (
        SELECT tok, {_BASE} AS h FROM toks
    ),
    dict AS (
        SELECT tok, min(h) AS h, CAST(count(*) AS BIGINT) AS exact_n
        FROM hashed GROUP BY tok
    ),
    expl AS (
        SELECT h, unnest([{", ".join(str(r) for r in range(_D))}]) AS r
        FROM hashed
    ),
    sketch AS (
        SELECT r, {_cw_cases()} AS b, CAST(count(*) AS BIGINT) AS c
        FROM expl GROUP BY 1, 2
    ),
    probes AS (
        SELECT tok, exact_n, h,
               unnest([{", ".join(str(r) for r in range(_D))}]) AS r
        FROM dict
    ),
    est AS (
        SELECT p.tok, p.exact_n, min(s.c) AS est_n
        FROM (SELECT tok, exact_n, r, {_cw_cases()} AS b FROM probes) p
        JOIN sketch s ON s.r = p.r AND s.b = p.b
        GROUP BY p.tok, p.exact_n
    )
    SELECT tok, exact_n, est_n FROM est
    ORDER BY exact_n DESC, tok LIMIT {_TOPK}
""",
)
def sk_heavy_hitters_cms(spark, sf_dir):
    """CMS build + probe with exact counts alongside: the sketch is
    built straight from the token stream (the dict-free production
    path); the exact dictionary exists here only to expose the
    overestimate. ``est_n >= exact_n`` always; equality for all
    heavy hitters at this width is the correctness signal. One md5
    per token; the d=4 row buckets are Carter-Wegman-derived integer
    arithmetic (codegen, no further hashing)."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    hashed = toks.select("tok", (md5_hash60(F.col("tok")) % _M31).alias("h"))
    rows = F.array(*[F.lit(r) for r in range(_D)])

    def bucket(r_col, h_col):
        expr = None
        for r, (a, b) in enumerate(_CW):
            derived = ((F.lit(a) * h_col + F.lit(b)) % _M31) % _W
            expr = (F.when(r_col == r, derived) if expr is None
                    else expr.when(r_col == r, derived))
        return expr

    sketch = (
        hashed.select("h", F.explode(rows).alias("r"))
        .select("r", bucket(F.col("r"), F.col("h")).alias("b"))
        .groupBy("r", "b").agg(F.count("*").alias("c"))
    )
    dict_df = hashed.groupBy("tok").agg(
        F.min("h").alias("h"), F.count("*").alias("exact_n"))
    probes = (
        dict_df.select("tok", "exact_n", "h", F.explode(rows).alias("r"))
        .select("tok", "exact_n", "r",
                bucket(F.col("r"), F.col("h")).alias("b"))
    )
    est = (
        probes.join(sketch, ["r", "b"])
        .groupBy("tok", "exact_n").agg(F.min("c").alias("est_n"))
    )
    return est.orderBy(F.col("exact_n").desc(), "tok").limit(_TOPK)


_KMV_K = 64  # bottom-k size (below the user-domain cardinality
             # at the harness scales, so the estimator path runs)

_OV_K = 64    # bottom-k per source for the overlap sketches
_OV_SH = 3    # token-shingle width
_TWO60 = 1152921504606846976  # 2^60, the hash-value domain

_GRAMS = f"""
    SELECT source, unnest(list_transform(
               generate_series(1, len(tk) - {_OV_SH - 1}),
               i -> concat_ws(' ', tk[i], tk[i + 1], tk[i + 2]))) AS g
    FROM (SELECT source, {_TOKS} AS tk FROM documents)
    WHERE len(tk) >= {_OV_SH}
"""

_UNION_EST = f"""(CASE WHEN e.u_size < {_OV_K} THEN CAST(e.u_size AS DOUBLE)
         ELSE CAST({_OV_K - 1} AS DOUBLE)
              / (CAST(e.vk AS DOUBLE) / CAST({_TWO60} AS DOUBLE)) END)"""


@query(
    "sk_kmv_overlap",
    survey=("SK-kmv", "A8"),
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT source,
               CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS h
        FROM ({_GRAMS})
    ),
    sk AS (
        SELECT source, h FROM (
            SELECT source, h,
                   row_number() OVER (PARTITION BY source ORDER BY h) AS rk
            FROM sh)
        WHERE rk <= {_OV_K}
    ),
    pairs AS (
        SELECT DISTINCT a.source AS source_a, b.source AS source_b
        FROM sk a JOIN sk b ON a.h = b.h AND a.source < b.source
    ),
    uni AS (
        SELECT p.source_a, p.source_b, s.h,
               max(CASE WHEN s.source = p.source_a THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN s.source = p.source_b THEN 1 ELSE 0 END) AS in_b
        FROM pairs p
        JOIN sk s ON s.source = p.source_a OR s.source = p.source_b
        GROUP BY 1, 2, 3
    ),
    bott AS (
        SELECT * FROM (
            SELECT source_a, source_b, h, in_a, in_b,
                   row_number() OVER (PARTITION BY source_a, source_b
                                      ORDER BY h) AS rk
            FROM uni)
        WHERE rk <= {_OV_K}
    ),
    est AS (
        SELECT source_a, source_b,
               CAST(count(*) AS BIGINT) AS u_size,
               max(h) AS vk,
               CAST(sum(in_a * in_b) AS BIGINT) AS x
        FROM bott GROUP BY 1, 2
    ),
    ex AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS n_exact
        FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT e.source_a, e.source_b, ex.n_exact,
           round({_UNION_EST}, 2) AS union_est,
           round(CAST(e.x AS DOUBLE) / e.u_size, 4) AS jaccard_est,
           round(CAST(e.x AS DOUBLE) / e.u_size * {_UNION_EST}, 2)
               AS inter_est
    FROM est e JOIN ex ON ex.source_a = e.source_a
                      AND ex.source_b = e.source_b
""",
)
def sk_kmv_overlap(spark, sf_dir):
    """Pairwise corpus-overlap estimation from KMV (bottom-k) sketches
    — the decontamination-at-scale primitive: how much does source A
    share with source B, WITHOUT an all-pairs shingle join. Per source,
    the k smallest 60-bit shingle hashes form its sketch; for a pair,
    the bottom-k of the sketch union U gives the union estimate
    (k-1)/(v_k/2^60), the fraction of U present in both sketches gives
    Jaccard, and their product estimates |A∩B| (Bar-Yossef et al. /
    theta-sketch set algebra, public). Every estimate is a pure
    function of the md5 hashes, so the DuckDB oracle pins it
    bit-for-bit, with the exact overlap reported alongside. Scale: the
    full-corpus work is ONE distinct + ONE per-source bottom-k window
    (parallel across sources); everything pairwise touches only
    k-row sketches, broadcast to the (tiny) pair list. Pairs with no
    shared sketch hash are omitted (their intersection estimate is 0).
    """
    from pyspark.sql import Window

    from bdc_collection_builder_spark.functions.parallel import spread

    docs = spread(t(spark, sf_dir, "documents"))
    tok_df = docs.select("source", tokens(F.col("text")).alias("tk"))
    tk = F.col("tk")
    grams = F.when(
        F.size(tk) >= _OV_SH,
        F.transform(
            F.sequence(F.lit(0), F.size(tk) - _OV_SH),
            lambda i: F.concat_ws(" ", F.slice(tk, i + 1, _OV_SH))),
    ).otherwise(F.array().cast("array<string>"))
    # The distinct (source, h) frame feeds THREE consumers (the
    # bottom-k window and both sides of the exact-overlap self-join),
    # and the sketch `sk` three more (pair discovery + both union
    # legs). Neither is persisted: over 8 interleaved pairs in each of
    # 3 warmed sessions at sf0.1, both-unpersisted measured min 2.15s
    # vs both-persisted 2.76s — the two sequential materialization
    # barriers plus cache writes cost more than the pipelined replays
    # of the 16-byte-row chain. Persisting just one frame measured
    # worse than either extreme (one barrier still paid, half the
    # replays kept). At 100 TB the corpus-scale tokenize + 5-gram
    # explode chain replay is a real pass per consumer, and a
    # production deployment would persist BOTH frames (all-or-nothing,
    # never one).
    sh = (
        tok_df.select("source", F.explode(F.array_distinct(grams)).alias("g"))
        .select("source", md5_hash60(F.col("g")).alias("h"))
        .distinct()
    )
    w_src = Window.partitionBy("source").orderBy("h")
    sk = (
        sh.withColumn("rk", F.row_number().over(w_src))
        .filter(F.col("rk") <= _OV_K).drop("rk"))
    pairs = (
        sk.alias("a").join(sk.alias("b"), "h")
        .filter(F.col("a.source") < F.col("b.source"))
        .select(F.col("a.source").alias("source_a"),
                F.col("b.source").alias("source_b"))
        .distinct()
    )
    ua = (F.broadcast(pairs)
          .join(sk, F.col("source") == F.col("source_a"))
          .select("source_a", "source_b", "h",
                  F.lit(1).alias("in_a"), F.lit(0).alias("in_b")))
    ub = (F.broadcast(pairs)
          .join(sk, F.col("source") == F.col("source_b"))
          .select("source_a", "source_b", "h",
                  F.lit(0).alias("in_a"), F.lit(1).alias("in_b")))
    uni = ua.unionByName(ub).groupBy("source_a", "source_b", "h").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    w_pair = Window.partitionBy("source_a", "source_b").orderBy("h")
    bott = (uni.withColumn("rk", F.row_number().over(w_pair))
            .filter(F.col("rk") <= _OV_K))
    est = bott.groupBy("source_a", "source_b").agg(
        F.count("*").cast("bigint").alias("u_size"),
        F.max("h").alias("vk"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("x"))
    ex = (
        sh.alias("a").join(sh.alias("b"), "h")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(F.col("a.source").alias("source_a"),
                 F.col("b.source").alias("source_b"))
        .agg(F.count("*").cast("bigint").alias("n_exact"))
    )
    union_raw = F.when(
        F.col("u_size") < _OV_K, F.col("u_size").cast("double")
    ).otherwise(
        F.lit(float(_OV_K - 1))
        / (F.col("vk").cast("double") / F.lit(float(_TWO60))))
    jac_raw = F.col("x").cast("double") / F.col("u_size")
    return est.join(ex, ["source_a", "source_b"]).select(
        "source_a", "source_b", "n_exact",
        F.round(union_raw, 2).alias("union_est"),
        F.round(jac_raw, 4).alias("jaccard_est"),
        F.round(jac_raw * union_raw, 2).alias("inter_est"))


@query(
    "sk_kmv_distinct",
    survey=("A8", "SK-hll"),
    oracle=f"""
        WITH hashed AS (
            SELECT DISTINCT event_type,
                   CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                        1, 15)) AS BIGINT) AS h
            FROM events
        ),
        ranked AS (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type ORDER BY h)
                       AS rk
            FROM hashed
        ),
        stats AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_exact,
                   CAST(max(CASE WHEN rk = {_KMV_K} THEN h END)
                        AS BIGINT) AS vk
            FROM ranked GROUP BY event_type
        )
        SELECT event_type, n_exact,
               round(CASE WHEN vk IS NULL THEN CAST(n_exact AS DOUBLE)
                     ELSE CAST({_KMV_K - 1} AS DOUBLE)
                          / (CAST(vk AS DOUBLE)
                             / CAST(1152921504606846976 AS DOUBLE))
                     END, 2) AS kmv_estimate
        FROM stats
    """,
)
def sk_kmv_distinct(spark, sf_dir):
    """KMV (k-minimum-values / bottom-k) distinct-count sketch:
    distinct users per event type estimated from the k smallest 60-bit
    hashes — the k-th minimum v_k gives (k-1)/(v_k/2^60)
    (Bar-Yossef et al., public). Unlike HLL (a18_hll_rollup —
    rows-only because register layouts are engine-specific), KMV's
    estimate is a PURE FUNCTION of the hash values, so the DuckDB
    oracle reproduces it bit-for-bit — a fully value-checked
    approximate-distinct estimator, reported beside the exact count so
    the error is visible. Sketch properties at 100 TB: the k smallest
    hashes are trivially mergeable (union then re-take bottom-k),
    per-group state is k x 8 bytes, and resemblance/union/intersection
    estimates compose from the same sketches. Groups with fewer than k
    distinct values report exactly (the standard KMV small-set
    rule)."""
    from pyspark.sql import Window

    events = t(spark, sf_dir, "events")
    hashed = (
        events.select(
            "event_type",
            md5_hash60(F.col("user_id").cast("string")).alias("h"))
        .distinct()
    )
    rk = F.row_number().over(Window.partitionBy("event_type").orderBy("h"))
    ranked = hashed.withColumn("rk", rk)
    stats = ranked.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_exact"),
        F.max(F.when(F.col("rk") == _KMV_K, F.col("h")))
        .cast("bigint").alias("vk"))
    estimate = F.when(
        F.col("vk").isNull(), F.col("n_exact").cast("double")
    ).otherwise(
        F.lit(float(_KMV_K - 1))
        / (F.col("vk").cast("double") / F.lit(float(1 << 60))))
    return stats.select(
        "event_type", "n_exact", F.round(estimate, 2).alias("kmv_estimate"))


_JC_EST = f"""(CASE WHEN {{p}}_size < {_OV_K} THEN CAST({{p}}_size AS DOUBLE)
        ELSE CAST({_OV_K - 1} AS DOUBLE)
             / (CAST({{p}}_vk AS DOUBLE) / CAST({_TWO60} AS DOUBLE)) END)"""


@query(
    "sk_join_cardinality",
    survey=("SK-kmv", "J6"),
    oracle=f"""
    WITH keyed AS (
        SELECT event_type, user_id,
               CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                    1, 15)) AS BIGINT) AS h
        FROM events
    ),
    mult AS (
        SELECT event_type, user_id, h,
               CAST(count(*) AS BIGINT) AS c
        FROM keyed GROUP BY 1, 2, 3
    ),
    side AS (
        SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS d
        FROM mult GROUP BY event_type
    ),
    sk AS (
        SELECT event_type, h FROM (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY h) AS rk
            FROM (SELECT DISTINCT event_type, h FROM mult))
        WHERE rk <= {_OV_K}
    ),
    sstat AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS s_size,
               max(h) AS s_vk
        FROM sk GROUP BY event_type
    ),
    pairs AS (
        SELECT DISTINCT a.event_type AS ta, b.event_type AS tb
        FROM sk a JOIN sk b ON a.h = b.h AND a.event_type < b.event_type
    ),
    uni AS (
        SELECT p.ta, p.tb, s.h,
               max(CASE WHEN s.event_type = p.ta THEN 1 ELSE 0 END) AS ia,
               max(CASE WHEN s.event_type = p.tb THEN 1 ELSE 0 END) AS ib
        FROM pairs p
        JOIN sk s ON s.event_type = p.ta OR s.event_type = p.tb
        GROUP BY 1, 2, 3
    ),
    bott AS (
        SELECT * FROM (
            SELECT ta, tb, h, ia, ib,
                   row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rk
            FROM uni)
        WHERE rk <= {_OV_K}
    ),
    inter AS (
        SELECT ta, tb,
               CAST(count(*) AS BIGINT) AS u_size,
               max(h) AS u_vk,
               CAST(sum(ia * ib) AS BIGINT) AS x
        FROM bott GROUP BY 1, 2
    ),
    exact AS (
        SELECT a.event_type AS ta, b.event_type AS tb,
               CAST(sum(a.c * b.c) AS BIGINT) AS exact_join_rows
        FROM mult a JOIN mult b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT i.ta AS type_a, i.tb AS type_b,
           ssa.n AS n_a, ssb.n AS n_b,
           e.exact_join_rows,
           round(
               (CAST(i.x AS DOUBLE) / i.u_size
                * (CASE WHEN i.u_size < {_OV_K}
                        THEN CAST(i.u_size AS DOUBLE)
                        ELSE CAST({_OV_K - 1} AS DOUBLE)
                             / (CAST(i.u_vk AS DOUBLE)
                                / CAST({_TWO60} AS DOUBLE)) END))
               * (ssa.n / {_JC_EST.format(p="sa.s")})
               * (ssb.n / {_JC_EST.format(p="sb.s")}), 2)
               AS est_join_rows
    FROM inter i
    JOIN exact e ON e.ta = i.ta AND e.tb = i.tb
    JOIN sstat sa ON sa.event_type = i.ta
    JOIN sstat sb ON sb.event_type = i.tb
    JOIN side ssa ON ssa.event_type = i.ta
    JOIN side ssb ON ssb.event_type = i.tb
""",
)
def sk_join_cardinality(spark, sf_dir):
    """Sketch-based equi-join SIZE estimation — the cost-based-
    optimizer statistic: for every pair of event types, estimate
    |A ⋈_user B| from per-type KMV sketches alone as
    D̂(A∩B) · (n_A/D̂_A) · (n_B/D̂_B) (intersection of distinct keys
    times the average multiplicities under the independence
    assumption — the textbook CBO formula), reported beside the exact
    join cardinality so the estimator's error is visible. A planner
    with these O(k)-byte sketches can choose broadcast-vs-shuffle and
    detect exploding joins WITHOUT touching the fact table twice.

    Pure function of the md5 key hashes (bottom-k selection, rational
    arithmetic), so the DuckDB oracle pins it bit-for-bit. The
    full-corpus work is one (type, user) count aggregate and one
    per-type bottom-k window; everything pairwise runs on k-row
    sketches. The exact side (for the error report) is a key-grouped
    self-join — the thing the ESTIMATOR exists to avoid at scale."""
    from pyspark.sql import Window

    keyed = t(spark, sf_dir, "events").select(
        "event_type", "user_id",
        md5_hash60(F.col("user_id").cast("string")).alias("h"))
    # Persist experiments REJECTED by measurement (round-10 session 3):
    # the static plan replays the events scan + md5 + groupBy for every
    # consumer of mult/sk (12 parquet scans in the explain), which made
    # both frames look like textbook persist-rule wins — but persisting
    # mult+sk measured worse at 7 of 8 paired positions, and the
    # minimal sk-only persist still lost at all 6 alternating-A/B
    # positions (old sorted [1.775..2.461] vs new [1.902..2.381], same
    # session). AQE's runtime exchange reuse already deduplicates the
    # replayed shuffles, so the persist only adds an eager
    # materialization barrier — the ndcg/sk_bloom lesson again: trust
    # the measurement, not the plan-text replay count.
    mult = keyed.groupBy("event_type", "user_id", "h").agg(
        F.count("*").cast("bigint").alias("c"))
    side = mult.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("d"))
    w_t = Window.partitionBy("event_type").orderBy("h")
    sk = (mult.select("event_type", "h").distinct()
          .withColumn("rk", F.row_number().over(w_t))
          .filter(F.col("rk") <= _OV_K).drop("rk"))
    sstat = sk.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("s_size"),
        F.max("h").alias("s_vk"))
    pairs = (
        sk.alias("a").join(sk.alias("b"), "h")
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .select(F.col("a.event_type").alias("ta"),
                F.col("b.event_type").alias("tb"))
        .distinct()
    )
    ua = (F.broadcast(pairs)
          .join(sk, F.col("event_type") == F.col("ta"))
          .select("ta", "tb", "h", F.lit(1).alias("ia"),
                  F.lit(0).alias("ib")))
    ub = (F.broadcast(pairs)
          .join(sk, F.col("event_type") == F.col("tb"))
          .select("ta", "tb", "h", F.lit(0).alias("ia"),
                  F.lit(1).alias("ib")))
    uni = ua.unionByName(ub).groupBy("ta", "tb", "h").agg(
        F.max("ia").alias("ia"), F.max("ib").alias("ib"))
    w_p = Window.partitionBy("ta", "tb").orderBy("h")
    bott = (uni.withColumn("rk", F.row_number().over(w_p))
            .filter(F.col("rk") <= _OV_K))
    inter = bott.groupBy("ta", "tb").agg(
        F.count("*").cast("bigint").alias("u_size"),
        F.max("h").alias("u_vk"),
        F.sum(F.col("ia") * F.col("ib")).cast("bigint").alias("x"))
    exact = (
        mult.alias("a").join(mult.alias("b"), "user_id")
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(F.col("a.event_type").alias("ta"),
                 F.col("b.event_type").alias("tb"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).cast("bigint")
             .alias("exact_join_rows"))
    )

    def kmv_est(size_col, vk_col):
        return F.when(
            size_col < _OV_K, size_col.cast("double")
        ).otherwise(
            F.lit(float(_OV_K - 1))
            / (vk_col.cast("double") / F.lit(float(_TWO60))))

    inter_est = (F.col("x").cast("double") / F.col("u_size")
                 * kmv_est(F.col("u_size"), F.col("u_vk")))
    sa = sstat.select(F.col("event_type").alias("ta"),
                      F.col("s_size").alias("sa_size"),
                      F.col("s_vk").alias("sa_vk"))
    sb = sstat.select(F.col("event_type").alias("tb"),
                      F.col("s_size").alias("sb_size"),
                      F.col("s_vk").alias("sb_vk"))
    na = side.select(F.col("event_type").alias("ta"),
                     F.col("n").alias("n_a"))
    nb = side.select(F.col("event_type").alias("tb"),
                     F.col("n").alias("n_b"))
    est = (inter_est
           * (F.col("n_a") / kmv_est(F.col("sa_size"), F.col("sa_vk")))
           * (F.col("n_b") / kmv_est(F.col("sb_size"), F.col("sb_vk"))))
    return (
        inter.join(exact, ["ta", "tb"])
        .join(F.broadcast(sa), "ta").join(F.broadcast(sb), "tb")
        .join(F.broadcast(na), "ta").join(F.broadcast(nb), "tb")
        .select(F.col("ta").alias("type_a"), F.col("tb").alias("type_b"),
                "n_a", "n_b", "exact_join_rows",
                F.round(est, 2).alias("est_join_rows"))
    )


# AMS/tug-of-war second-moment sketch: 16 fixed estimators, each a
# +-1-signed sum over the per-user counts; median-of-estimators is
# reported x2 (sum of the two middle order statistics) so it stays
# integer-exact across engines.
_AMS_J = 16


@query(
    "sk_ams_f2_estimate",
    survey=("SK-moment", "A3"),
    oracle="""
        WITH per_user AS (
            SELECT CAST(user_id AS VARCHAR) AS u,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY user_id
        ),
        sums AS (
            SELECT CAST(sum(cnt * cnt) AS BIGINT) AS f2,
                   CAST(sum(cnt * (1 - 2 * (CAST(concat('0x', substr(md5(concat('0:', u)), 1, 15)) AS BIGINT) % 2))) AS BIGINT) AS x0,
                   CAST(sum(cnt * (1 - 2 * (CAST(concat('0x', substr(md5(concat('1:', u)), 1, 15)) AS BIGINT) % 2))) AS BIGINT) AS x1,
                   CAST(sum(cnt * (1 - 2 * (CAST(concat('0x', substr(md5(concat('2:', u)), 1, 15)) AS BIGINT) % 2))) AS BIGINT) AS x2,
                   CAST(sum(cnt * (1 - 2 * (CAST(concat('0x', substr(md5(concat('3:', u)), 1, 15)) AS BIGINT) % 2))) AS BIGINT) AS x3,
                   CAST(sum(cnt * (1 - 2 * (CAST(concat('0x', substr(md5(concat('4:', u)), 1, 15)) AS BIGINT) % 2))) AS BIGINT) AS x4,
                   CAST(sum(cnt * (1 - 2 * (CAST(concat('0x', substr(md5(concat('5:', u)), 1, 15)) AS BIGINT) % 2))) AS BIGINT) AS x5,
                   CAST(sum(cnt * (1 - 2 * (CAST(concat('0x', substr(md5(concat('6:', u)), 1, 15)) AS BIGINT) % 2))) AS BIGINT) AS x6,
                   CAST(sum(cnt * (1 - 2 * (CAST(concat('0x', substr(md5(concat('7:', u)), 1, 15)) AS BIGINT) % 2))) AS BIGINT) AS x7,
                   CAST(sum(cnt * (1 - 2 * (CAST(concat('0x', substr(md5(concat('8:', u)), 1, 15)) AS BIGINT) % 2))) AS BIGINT) AS x8,
                   CAST(sum(cnt * (1 - 2 * (CAST(concat('0x', substr(md5(concat('9:', u)), 1, 15)) AS BIGINT) % 2))) AS BIGINT) AS x9,
                   CAST(sum(cnt * (1 - 2 * (CAST(concat('0x', substr(md5(concat('10:', u)), 1, 15)) AS BIGINT) % 2))) AS BIGINT) AS x10,
                   CAST(sum(cnt * (1 - 2 * (CAST(concat('0x', substr(md5(concat('11:', u)), 1, 15)) AS BIGINT) % 2))) AS BIGINT) AS x11,
                   CAST(sum(cnt * (1 - 2 * (CAST(concat('0x', substr(md5(concat('12:', u)), 1, 15)) AS BIGINT) % 2))) AS BIGINT) AS x12,
                   CAST(sum(cnt * (1 - 2 * (CAST(concat('0x', substr(md5(concat('13:', u)), 1, 15)) AS BIGINT) % 2))) AS BIGINT) AS x13,
                   CAST(sum(cnt * (1 - 2 * (CAST(concat('0x', substr(md5(concat('14:', u)), 1, 15)) AS BIGINT) % 2))) AS BIGINT) AS x14,
                   CAST(sum(cnt * (1 - 2 * (CAST(concat('0x', substr(md5(concat('15:', u)), 1, 15)) AS BIGINT) % 2))) AS BIGINT) AS x15
            FROM per_user
        ),
        est AS (
            SELECT f2, list_sort([x0 * x0, x1 * x1, x2 * x2, x3 * x3, x4 * x4, x5 * x5, x6 * x6, x7 * x7, x8 * x8, x9 * x9, x10 * x10, x11 * x11, x12 * x12, x13 * x13, x14 * x14, x15 * x15]) AS s FROM sums
        )
        SELECT f2 AS f2_exact,
               CAST(s[8] + s[9] AS BIGINT) AS f2_est_x2,
               CAST(abs(s[8] + s[9] - 2 * f2) * 1000000 // (2 * f2)
                    AS BIGINT) AS err_ppm
        FROM est
""",
)
def sk_ams_f2_estimate(spark, sf_dir):
    """AMS (Alon-Matias-Szegedy 1996, public) tug-of-war sketch for
    the SECOND FREQUENCY MOMENT of the event stream's user
    distribution — F2 = sum over users of count^2, the self-join-size
    / skew statistic that decides salting and partitioning choices at
    100 TB, estimated from 16 counters instead of a per-key
    dictionary. Each estimator j keeps X_j = sum_u sign_j(u) * cnt_u
    with a 4-independent-enough fixed sign hash (md5-parity of
    'j:user'); E[X_j^2] = F2 exactly, and the reported estimate is
    the MEDIAN of the 16 X_j^2 — emitted as the sum of the two middle
    order statistics (2x the median) so no division ever happens:
    every value in the row is integer bigint arithmetic, identical in
    both engines (md5-60bit parity is the house engine-neutral hash).
    The exact F2 rides along from the same per-user aggregate, so the
    oracle pins sketch AND truth, and err_ppm (integer ppm vs 2*F2)
    makes the estimator's accuracy a value-checked fact rather than a
    claim.

    100 TB: ONE map-side-combined groupBy(user) then ONE row of 17
    sums — the sketch state is 16 integers, mergeable by addition
    across partitions/streams (the AMS property); no second pass, no
    dictionary. The per-user frame is the only shuffle."""
    ev = t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("u"))
    per_user = ev.groupBy("u").agg(
        F.count("*").cast("bigint").alias("cnt"))
    return ams_f2_from_counts(per_user)


def ams_f2_from_counts(per_user):
    """AMS tug-of-war estimator behind :func:`sk_ams_f2_estimate` —
    factored out (the scc_labels pattern) so tests can drive it with
    PLANTED per-key counts and cross-check the md5-parity sign hash
    and the median-of-16 order statistics bit-exactly against an
    in-process Python mirror. ``per_user`` is (u string, cnt
    bigint)."""
    signs = [
        (1 - 2 * (md5_hash60(F.concat(F.lit(f"{j}:"), F.col("u")))
                  % 2)).cast("bigint")
        for j in range(_AMS_J)
    ]
    sums = per_user.agg(
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("f2"),
        *[F.sum(F.col("cnt") * s).cast("bigint").alias(f"x{j}")
          for j, s in enumerate(signs)])
    s = F.array_sort(F.array(*[
        (F.col(f"x{j}") * F.col(f"x{j}")).cast("bigint")
        for j in range(_AMS_J)]))
    return sums.select(
        F.col("f2").alias("f2_exact"),
        (F.element_at(s, 8) + F.element_at(s, 9)).cast("bigint")
        .alias("f2_est_x2"),
        "f2",
    ).select(
        "f2_exact", "f2_est_x2",
        F.expr("CAST(abs(f2_est_x2 - 2 * f2) * 1000000 DIV (2 * f2) "
               "AS BIGINT)").alias("err_ppm"))

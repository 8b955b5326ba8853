"""Graph analytics over a derived citation graph — PageRank, triangle
counting, degree distribution.

A large-scale curation pipeline ranks documents by link/citation
centrality (quality signal for web corpora) and measures graph shape
(triangles, degree histograms) to detect spam farms and boilerplate
link rings. The testdata has no edge table, so the suite derives a
DETERMINISTIC pseudo-random 3-regular-out citation graph from
``documents`` with the engine-neutral md5-60bit hash (the same
cross-engine base hash the dedup oracles pin, extensions/dedup.py):

    dst(src, i) = md5_hash60(concat(src, ':', i)) % n_docs,  i in 1..3

Both engines recompute the identical graph, so every result is fully
value-checked by the DuckDB oracle — no fixture files needed.

Scale design (100 TB / billions of edges):

- **PageRank** runs a fixed number of unrolled iterations; each is one
  shuffle on ``dst`` (the contribution aggregate) plus an equi-join on
  ``src`` against the (rank, outdeg) table — the standard distributed
  formulation. Self-loops are KEPT, which guarantees outdeg >= 1 and
  removes the dangling-mass correction (a driver-side scalar reduce
  per iteration) entirely. At production depth (tens of iterations)
  each round would ``localCheckpoint`` like the connected-components
  operator (extensions/dedup.py) to truncate lineage; three unrolled
  rounds stay plan-only here.
- **Triangles** use the oriented-edge trick: orient every undirected
  edge low→high, then count wedge closures with two equi-joins — each
  triangle is counted exactly once, no ``distinct`` on candidate
  triples and no cartesian anywhere.
- The only driver action is the ``count()`` of the node dimension (the
  same bounded scalar-attach pattern the ANN/centroid queries use).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bdc_collection_builder_spark.extensions.dedup import md5_hash60
from bdc_collection_builder_spark.functions.iterate import iterate
from bdc_collection_builder_spark.functions.persist import tracked_persist
from bdc_collection_builder_spark.plans._util import t
from bdc_collection_builder_spark.plans.registry import query

_FANOUT = 3
_DAMPING = 0.85
_ITERATIONS = 3

# DuckDB CTEs recomputing the identical derived graph: nn (node count),
# edges (distinct, existence-guarded), outdeg.
_GRAPH_SQL = f"""
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    raw_edges AS (
        SELECT d.doc_id AS src,
               CAST(concat('0x', substr(md5(concat(
                   CAST(d.doc_id AS VARCHAR), ':', CAST(g.i AS VARCHAR)
               )), 1, 15)) AS BIGINT) % (SELECT n FROM nn) AS dst
        FROM documents d, generate_series(1, {_FANOUT}) AS g(i)
    ),
    edges AS (
        SELECT DISTINCT r.src, r.dst
        FROM raw_edges r JOIN documents x ON r.dst = x.doc_id
    ),
    outdeg AS (
        SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src
    )
"""


def citation_edges(spark: SparkSession, sf_dir: str
                   ) -> tuple[DataFrame, DataFrame, int]:
    """(nodes, distinct edges, n) for the derived citation graph.

    The existence join guards against a non-contiguous id domain (the
    hash targets the 0..n-1 ordinal space); with the synthetic tables'
    contiguous ids it keeps every edge. Self-loops retained by design
    (see module docstring)."""
    nodes = t(spark, sf_dir, "documents").select("doc_id")
    n = nodes.count()
    fan = nodes.select(
        F.col("doc_id").alias("src"),
        F.explode(F.array(*[F.lit(str(i)) for i in
                            range(1, _FANOUT + 1)])).alias("i"),
    )
    dst = md5_hash60(
        F.concat(F.col("src").cast("string"), F.lit(":"), F.col("i"))
    ) % F.lit(n)
    edges = (
        fan.select("src", dst.alias("dst"))
        .join(nodes.select(F.col("doc_id").alias("dst")), "dst")
        .select("src", "dst").distinct()
    )
    return nodes, edges, n


def pagerank_loop(nodes: DataFrame, src_deg: DataFrame, teleport,
                  n_iter: int, checkpoint_every: int = 5) -> DataFrame:
    """Shared PageRank power-iteration: ``rank <- (1-d)*teleport +
    d * sum(in-neighbor rank/outdeg)``, run ``n_iter`` rounds through
    :func:`iterate` so lineage is truncated every ``checkpoint_every``
    rounds (production depth = tens of iterations; without truncation
    the logical plan grows ~16 shuffle nodes per round).

    ``teleport`` is a per-node Column of restart mass (uniform 1/n for
    classic PageRank, seed-normalized indicator for personalized);
    ``src_deg`` is the persisted (src, dst, deg) edge table. Returns
    (doc_id, rank)."""
    def step(ranks: DataFrame, _i: int) -> DataFrame:
        contrib = (
            src_deg.join(ranks.select(F.col("doc_id").alias("src"), "rank"),
                         "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
        )
        return (
            nodes.join(contrib, nodes["doc_id"] == contrib["dst"], "left")
            .select(
                "doc_id",
                (F.lit(1 - _DAMPING) * teleport
                 + F.lit(_DAMPING) * F.coalesce("contrib", F.lit(0.0))
                 ).alias("rank"))
        )

    return iterate(nodes.withColumn("rank", teleport), step, n_iter,
                   checkpoint_every=checkpoint_every)


def _pagerank_iteration_sql(k: int) -> str:
    prev = f"p{k - 1}"
    return f"""
    p{k} AS (
        SELECT d.doc_id,
               CAST({1 - _DAMPING} AS DOUBLE) / (SELECT n FROM nn)
               + CAST({_DAMPING} AS DOUBLE)
                 * COALESCE(sum(p.rank / o.deg), 0) AS rank
        FROM documents d
        LEFT JOIN edges e ON e.dst = d.doc_id
        LEFT JOIN {prev} p ON p.doc_id = e.src
        LEFT JOIN outdeg o ON o.src = e.src
        GROUP BY d.doc_id
    )"""


_PAGERANK_ORACLE = (
    "WITH " + _GRAPH_SQL + ",\n"
    "    p0 AS (SELECT doc_id, CAST(1 AS DOUBLE) / (SELECT n FROM nn)"
    " AS rank FROM documents),"
    + ",".join(_pagerank_iteration_sql(k)
               for k in range(1, _ITERATIONS + 1))
    + f"""
    SELECT doc_id, round(rank, 10) AS pagerank FROM p{_ITERATIONS}
"""
)


@query(
    "gr_pagerank",
    survey=("GR-pagerank",),
    oracle=_PAGERANK_ORACLE,
)
def gr_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank (damping 0.85, 3 unrolled rounds) over
    the derived citation graph — the link-centrality quality signal of
    a web-corpus curation pipeline.

    Per iteration: contributions aggregate in ONE shuffle on ``dst``
    (map-side combined), ranks rejoin on the node id. Self-loops keep
    outdeg >= 1, so there is no dangling-mass scalar reduce."""
    nodes, edges, n = citation_edges(spark, sf_dir)
    outdeg = edges.groupBy("src").agg(
        F.count("*").cast("double").alias("deg"))
    # Every unrolled round reuses the same (src, dst, deg) table;
    # without a persist Catalyst inlines the whole edge-derivation
    # subplan (explode + existence join + distinct) into each round —
    # 3x the shuffles for identical data. Persist once, like the
    # connected-components rounds (extensions/dedup.py).
    src_deg = tracked_persist(edges.join(outdeg, "src"))
    ranks = pagerank_loop(nodes, src_deg, F.lit(1.0 / n), _ITERATIONS)
    return ranks.select("doc_id", F.round("rank", 10).alias("pagerank"))


@query(
    "gr_triangle_count",
    survey=("GR-triangles",),
    oracle="WITH " + _GRAPH_SQL + """,
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM und e1
    JOIN und e2 ON e2.a = e1.b
    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
""",
)
def gr_triangle_count(spark, sf_dir):
    """Triangle count via oriented wedges: orient each undirected edge
    low→high, close wedges with two equi-joins. Each triangle
    (a<b<c) appears exactly once as (a,b)+(b,c)+(a,c) — no distinct
    over triples, no cartesian. At 100 TB this is the standard
    high-degree-vertex-safe formulation (orientation bounds each
    vertex's join fan-out by its out-orientation degree)."""
    _, edges, _ = citation_edges(spark, sf_dir)
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"))
        .distinct()
        .persist()  # scanned three times by the wedge joins
    )
    e1 = und.alias("e1")
    e2 = und.alias("e2")
    e3 = und.alias("e3")
    wedges = e1.join(e2, F.col("e2.a") == F.col("e1.b"))
    closed = wedges.join(
        e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
    return closed.agg(F.count("*").alias("n_triangles"))


@query(
    "gr_degree_histogram",
    survey=("GR-degrees",),
    oracle="WITH " + _GRAPH_SQL + """,
    indeg AS (
        SELECT d.doc_id, CAST(count(e.src) AS BIGINT) AS degree
        FROM documents d LEFT JOIN edges e ON e.dst = d.doc_id
        GROUP BY d.doc_id
    )
    SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
    FROM indeg GROUP BY degree
""",
)
def gr_degree_histogram(spark, sf_dir):
    """In-degree distribution of the citation graph — the spam/link-
    farm shape check (heavy right tail = rings of mutually citing
    boilerplate). Two map-side-combined aggregates; zero-in-degree
    nodes are kept via the left join so the histogram is complete."""
    nodes, edges, _ = citation_edges(spark, sf_dir)
    indeg = (
        nodes.join(edges, nodes["doc_id"] == edges["dst"], "left")
        .groupBy(nodes["doc_id"])
        .agg(F.count(edges["src"]).alias("degree"))
    )
    return indeg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


_SEED_MOD = 50  # doc_id % 50 == 0 → the seed (query) set


def _ppr_iteration_sql(k: int) -> str:
    prev = f"p{k - 1}"
    return f"""
    p{k} AS (
        SELECT d.doc_id,
               CAST({1 - _DAMPING} AS DOUBLE)
                 * (CASE WHEN d.doc_id % {_SEED_MOD} = 0
                         THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)
                 / (SELECT ns FROM nseeds)
               + CAST({_DAMPING} AS DOUBLE)
                 * COALESCE(sum(p.rank / o.deg), 0) AS rank
        FROM documents d
        LEFT JOIN edges e ON e.dst = d.doc_id
        LEFT JOIN {prev} p ON p.doc_id = e.src
        LEFT JOIN outdeg o ON o.src = e.src
        GROUP BY d.doc_id
    )"""


_PPR_ORACLE = (
    "WITH " + _GRAPH_SQL + f""",
    nseeds AS (
        SELECT CAST(count(*) AS DOUBLE) AS ns FROM documents
        WHERE doc_id % {_SEED_MOD} = 0
    ),
    p0 AS (
        SELECT doc_id,
               (CASE WHEN doc_id % {_SEED_MOD} = 0
                     THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)
               / (SELECT ns FROM nseeds) AS rank
        FROM documents
    ),"""
    + ",".join(_ppr_iteration_sql(k) for k in range(1, _ITERATIONS + 1))
    + f"""
    SELECT doc_id, round(rank, 10) AS ppr FROM p{_ITERATIONS}
    WHERE rank > 0
"""
)


@query(
    "gr_personalized_pagerank",
    survey=("GR-pagerank",),
    oracle=_PPR_ORACLE,
)
def gr_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank: teleport mass returns to a SEED set
    (doc_id % 50 == 0) instead of everywhere — relevance propagation
    from a trusted/query subset, the corpus-expansion primitive
    ("find documents the seed set structurally endorses"). Same
    per-iteration shape as gr_pagerank (one contribution shuffle on
    dst + a node-key rejoin); only the teleport vector changes. Nodes
    never reached from the seeds keep rank exactly 0 and are dropped,
    matching the sparse-frontier behavior a 100 TB deployment exploits
    (the frontier DataFrame stays small until mass spreads)."""
    nodes, edges, n = citation_edges(spark, sf_dir)
    outdeg = edges.groupBy("src").agg(
        F.count("*").cast("double").alias("deg"))
    src_deg = tracked_persist(edges.join(outdeg, "src"))
    is_seed = (F.col("doc_id") % _SEED_MOD == 0)
    n_seeds = nodes.filter(is_seed).count()
    teleport = (F.when(is_seed, F.lit(1.0)).otherwise(F.lit(0.0))
                / F.lit(float(n_seeds)))
    ranks = pagerank_loop(nodes, src_deg, teleport, _ITERATIONS)
    return (
        ranks.filter(F.col("rank") > 0)
        .select("doc_id", F.round("rank", 10).alias("ppr"))
    )


def hits_scores(nodes: DataFrame, edges: DataFrame, n_rounds: int,
                checkpoint_every: int = 3) -> DataFrame:
    """Parameterized HITS: ``n_rounds`` full mutual-reinforcement rounds
    (authority <- ET·hub, normalize; hub <- E·authority, normalize) over
    a persisted edge set, lineage-truncated every ``checkpoint_every``
    rounds via :func:`iterate` — the production-depth form the fixed
    1.5-round ``gr_hits_hubs_authorities`` query points at (its plan
    grows ~16 shuffles/round unrolled; this one's stays bounded).

    State is ONE DataFrame (doc_id, hub, authority) so a checkpoint
    truncates both score vectors together. Each half-round is one
    shuffle on the join key plus a one-row L2 scalar attach. Returns
    (doc_id, hub, authority) after ``n_rounds`` rounds, hub init = 1."""
    e = tracked_persist(edges.select("src", "dst"))

    def half(scores: DataFrame, col: str, edge_from: str, edge_to: str,
             out: str) -> DataFrame:
        pulled = (
            e.join(scores.select(F.col("doc_id").alias(edge_from),
                                 F.col(col).alias("s")), edge_from)
            .groupBy(F.col(edge_to).alias("doc_id"))
            .agg(F.sum("s").alias("raw"))
        )
        attached = (
            nodes.join(pulled, "doc_id", "left")
            .select("doc_id", F.coalesce("raw", F.lit(0.0)).alias("raw"))
        )
        nrm = attached.agg(
            F.sqrt(F.sum(F.col("raw") * F.col("raw"))).alias("nrm"))
        return (attached.crossJoin(F.broadcast(nrm))
                .select("doc_id", (F.col("raw") / F.col("nrm")).alias(out)))

    def step(state: DataFrame, _i: int) -> DataFrame:
        auth = half(state, "hub", "src", "dst", "authority")
        hub = half(auth, "authority", "dst", "src", "hub")
        return (state.select("doc_id")
                .join(auth, "doc_id").join(hub, "doc_id"))

    init = nodes.select("doc_id", F.lit(1.0).alias("hub"),
                        F.lit(1.0).alias("authority"))
    return iterate(init, step, n_rounds, checkpoint_every=checkpoint_every)


_HITS_NORM = "sqrt((SELECT sum(x * x) FROM (SELECT {col} AS x FROM {src})))"


@query(
    "gr_hits_hubs_authorities",
    survey=("GR-pagerank",),
    oracle="WITH " + _GRAPH_SQL + f""",
    a1 AS (
        SELECT d.doc_id, CAST(count(e.src) AS DOUBLE) AS score
        FROM documents d LEFT JOIN edges e ON e.dst = d.doc_id
        GROUP BY d.doc_id
    ),
    a1n AS (
        SELECT doc_id, score / {_HITS_NORM.format(col='score', src='a1')}
                   AS score
        FROM a1
    ),
    h1 AS (
        SELECT d.doc_id, COALESCE(sum(a.score), 0) AS score
        FROM documents d
        LEFT JOIN edges e ON e.src = d.doc_id
        LEFT JOIN a1n a ON a.doc_id = e.dst
        GROUP BY d.doc_id
    ),
    h1n AS (
        SELECT doc_id, score / {_HITS_NORM.format(col='score', src='h1')}
                   AS score
        FROM h1
    ),
    a2 AS (
        SELECT d.doc_id, COALESCE(sum(h.score), 0) AS score
        FROM documents d
        LEFT JOIN edges e ON e.dst = d.doc_id
        LEFT JOIN h1n h ON h.doc_id = e.src
        GROUP BY d.doc_id
    ),
    a2n AS (
        SELECT doc_id, score / {_HITS_NORM.format(col='score', src='a2')}
                   AS score
        FROM a2
    )
    SELECT a.doc_id,
           round(a.score, 8) AS authority,
           round(h.score, 8) AS hub
    FROM a2n a JOIN h1n h USING (doc_id)
""",
)
def gr_hits_hubs_authorities(spark, sf_dir):
    """HITS (Kleinberg hubs & authorities), two normalized rounds over
    the citation graph — the bipartite mutual-reinforcement complement
    to PageRank's random walk: directories/link pages surface as hubs,
    canonical sources as authorities (web-corpus curation uses the hub
    score to DOWN-weight link farms that PageRank alone can inflate).
    Per half-iteration: one shuffle on the join key + an L2
    normalizer, a one-row scalar attach (same pattern as the
    centroid/vocab-total attaches). Edges persist once across all four
    half-steps. For production depth (tens of rounds) use
    :func:`hits_scores`, whose lineage is truncated per
    ``checkpoint_every`` rounds."""
    nodes, edges, _ = citation_edges(spark, sf_dir)
    e = tracked_persist(edges)

    def l2_attach(df):
        # df (node-sized, produced by an edge join + aggregate) feeds
        # the normalizer AND the output — unpersisted, each half-step
        # computes its pull twice (the persist rule).
        df = tracked_persist(df)
        nrm = df.agg(
            F.sqrt(F.sum(F.col("score") * F.col("score"))).alias("nrm"))
        return (df.crossJoin(F.broadcast(nrm))
                .select("doc_id", (F.col("score") / F.col("nrm"))
                        .alias("score")))

    def pull(scores, edge_from, edge_to):
        contrib = (
            e.join(scores.withColumnRenamed("doc_id", edge_from), edge_from)
            .groupBy(edge_to).agg(F.sum("score").alias("c"))
        )
        return (
            nodes.join(contrib, nodes["doc_id"] == F.col(edge_to), "left")
            .select("doc_id", F.coalesce("c", F.lit(0.0)).alias("score"))
        )

    # each score vector feeds the next half-step AND (for h1/a2) the
    # final join; persisting stops the whole upstream chain (a1 -> h1
    # -> a2) re-evaluating once per consumer
    a1 = tracked_persist(l2_attach(
        nodes.join(e, nodes["doc_id"] == e["dst"], "left")
        .groupBy(nodes["doc_id"])
        .agg(F.count(e["src"]).cast("double").alias("score"))))
    h1 = tracked_persist(l2_attach(pull(a1, "dst", "src")))
    a2 = l2_attach(pull(h1, "src", "dst"))
    return (
        a2.select("doc_id", F.round("score", 8).alias("authority"))
        .join(h1.select("doc_id", F.round("score", 8).alias("hub")),
              "doc_id")
    )


_LPA_ROUNDS = 4


def _lpa_iteration_sql(k: int) -> str:
    prev = f"lab{k - 1}"
    return f"""
    cnt{k} AS (
        SELECT u.src, l.lab, count(*) AS c
        FROM und u JOIN {prev} l ON u.dst = l.doc_id
        GROUP BY 1, 2
    ),
    best{k} AS (
        SELECT src, lab FROM (
            SELECT src, lab,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY c DESC, lab) AS rk
            FROM cnt{k})
        WHERE rk = 1
    ),
    lab{k} AS (
        SELECT p.doc_id, COALESCE(b.lab, p.lab) AS lab
        FROM {prev} p LEFT JOIN best{k} b ON b.src = p.doc_id
    )"""


@query(
    "gr_label_propagation",
    survey=("GR-communities",),
    oracle="WITH " + _GRAPH_SQL + """,
    und AS (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM edges
            UNION ALL
            SELECT dst AS src, src AS dst FROM edges)
        WHERE src <> dst
    ),
    lab0 AS (SELECT doc_id, doc_id AS lab FROM documents),
    """ + ",".join(_lpa_iteration_sql(k)
                   for k in range(1, _LPA_ROUNDS + 1)) + f"""
    SELECT doc_id, CAST(lab AS BIGINT) AS community
    FROM lab{_LPA_ROUNDS}
""",
)
def gr_label_propagation(spark, sf_dir):
    """Community detection by SYNCHRONOUS label propagation (Raghavan
    et al., public) over the symmetrized citation graph: every node
    starts as its own label; each round it adopts the most frequent
    label among its neighbors, ties broken by smallest label —
    deterministic, so unlike the asynchronous/random-order variant the
    result is a pure function of the graph and the DuckDB oracle pins
    every assignment. Complements the dedup suite's connected
    components (extensions/dedup.py): LPA splits dense link
    communities that CC would fuse through a single bridge edge.

    Scale: each round is one shuffle on the neighbor join + one
    map-side-combined count + a per-node window (parallel across
    nodes); the symmetrized edge table persists once across all
    rounds, and :func:`iterate` truncates lineage every 2 rounds so
    production-depth propagation keeps a bounded plan. Isolated nodes
    (no non-loop edges) keep their own label via the left join."""
    from pyspark.sql import Window

    nodes, edges, _ = citation_edges(spark, sf_dir)
    und = tracked_persist(
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"),
                                  F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct())

    w = Window.partitionBy("src").orderBy(F.col("c").desc(), F.col("lab"))

    def step(labels: DataFrame, _i: int) -> DataFrame:
        cnt = (
            und.join(labels.select(F.col("doc_id").alias("dst"), "lab"),
                     "dst")
            .groupBy("src", "lab").agg(F.count("*").alias("c"))
        )
        best = (
            cnt.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(F.col("src").alias("doc_id"),
                    F.col("lab").alias("new_lab"))
        )
        return (
            labels.join(best, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("new_lab", "lab").alias("lab"))
        )

    init = nodes.select("doc_id", F.col("doc_id").alias("lab"))
    final = iterate(init, step, _LPA_ROUNDS, checkpoint_every=2)
    return final.select(
        "doc_id", F.col("lab").cast("bigint").alias("community"))


_KCORE_K = 3
_KCORE_ROUNDS = 6


def _kcore_round_sql(r: int) -> str:
    prev = f"s{r - 1}"
    return f"""
    s{r} AS (
        SELECT u.src AS doc_id FROM und u
        WHERE u.src IN (SELECT doc_id FROM {prev})
          AND u.dst IN (SELECT doc_id FROM {prev})
        GROUP BY u.src HAVING count(*) >= {_KCORE_K}
    )"""


@query(
    "gr_kcore_peeling",
    survey=("GR-communities", "GR-degrees"),
    oracle="WITH " + _GRAPH_SQL + """,
    und AS (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM edges
            UNION ALL
            SELECT dst AS src, src AS dst FROM edges)
        WHERE src <> dst
    ),
    s0 AS (SELECT doc_id FROM documents),
    """ + ",".join(_kcore_round_sql(r)
                   for r in range(1, _KCORE_ROUNDS + 1)) + f"""
    SELECT u.src AS doc_id, CAST(count(*) AS BIGINT) AS core_degree
    FROM und u
    JOIN s{_KCORE_ROUNDS} a ON u.src = a.doc_id
    JOIN s{_KCORE_ROUNDS} b ON u.dst = b.doc_id
    GROUP BY u.src
""",
)
def gr_kcore_peeling(spark, sf_dir):
    """K-core decomposition by synchronous peeling (k={_KCORE_K}):
    repeatedly drop every node with fewer than k neighbors INSIDE the
    surviving set — the dense-substructure extractor that separates
    organically linked content from the sparse periphery, and (with
    high k) the spam/link-farm core detector complementing
    gr_degree_histogram's global shape check. {_KCORE_ROUNDS} fixed
    synchronous rounds (deterministic regardless of convergence; a
    converged peel is a fixed point, so extra rounds are no-ops),
    survivors reported with their within-core degree.

    Per round: the peel iterates on the INDUCED edge set itself —
    degrees come from one map-side-combined count over the current
    edge table, and the survivors filter the SAME table on both
    endpoints to produce the next round's edges (round-10 rewrite,
    guide §2.4: the old form re-joined the FULL symmetrized edge
    table against the survivor set every round, so each round cost
    two joins over the whole graph; the induced form's per-round work
    is proportional to the SURVIVING edges, which only shrink).
    Equivalence: survivors are monotone decreasing, so filtering the
    already-filtered edge table equals filtering the original —
    e_r = und induced on s_r by induction, and the round's degree
    count over e_{r-1} is exactly the old count over und ⋈ s_{r-1}²
    (every edge endpoint is a node by construction in
    :func:`citation_edges`). Per-round eager truncation is
    load-bearing: the edge frame feeds the degree aggregate AND both
    endpoint filters, so an unmaterialized round would replay its
    producing plan three times per subsequent round."""
    _nodes, edges, _ = citation_edges(spark, sf_dir)
    und = tracked_persist(
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"),
                                  F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct())

    def estep(e: DataFrame, _i: int) -> DataFrame:
        surv = (
            e.groupBy("src").agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select("src")
        )
        return (
            e.join(surv, "src")
            .join(surv.select(F.col("src").alias("dst")), "dst")
        )

    final_e = iterate(und, estep, _KCORE_ROUNDS, checkpoint_every=1)
    return (
        final_e.groupBy("src").agg(
            F.count("*").cast("bigint").alias("core_degree"))
        .select(F.col("src").alias("doc_id"), "core_degree")
    )


_JACCARD_DEG_CAP = 64


@query(
    "gr_jaccard_link_prediction",
    survey=("GR-linkpred",),
    oracle=f"""
        WITH {_GRAPH_SQL},
        und AS (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM edges WHERE src <> dst
        ),
        nbr AS (
            SELECT DISTINCT node, nb FROM (
                SELECT a AS node, b AS nb FROM und
                UNION ALL
                SELECT b AS node, a AS nb FROM und
            )
        ),
        deg AS (
            SELECT node, CAST(count(*) AS BIGINT) AS d
            FROM nbr GROUP BY node
        ),
        wedge AS (
            SELECT n1.node AS u, n2.node AS w
            FROM nbr n1
            JOIN deg dv ON dv.node = n1.nb AND dv.d <= {_JACCARD_DEG_CAP}
            JOIN nbr n2 ON n2.nb = n1.nb AND n1.node < n2.node
        ),
        common AS (
            SELECT u, w, CAST(count(*) AS BIGINT) AS n_common
            FROM wedge GROUP BY u, w
        )
        SELECT c.u, c.w, c.n_common,
               round(CAST(c.n_common AS DOUBLE)
                     / (du.d + dw.d - c.n_common), 6) AS jaccard
        FROM common c
        JOIN deg du ON du.node = c.u
        JOIN deg dw ON dw.node = c.w
        WHERE c.n_common >= 2
    """,
)
def gr_jaccard_link_prediction(spark, sf_dir):
    """Common-neighbor / Jaccard link prediction over the citation
    graph: candidate pairs are generated ONLY through shared neighbors
    (a self-join of the neighbor list on the neighbor id), never by
    enumerating node pairs, and scored `|N(u)∩N(w)| / |N(u)∪N(w)|`.

    Scale: the wedge join is the whole cost, and its per-key fan-out is
    quadratic in the shared neighbor's degree — so hub nodes with
    degree > {_JACCARD_DEG_CAP} are excluded from CANDIDATE GENERATION
    (the same explicit anti-skew bound dd_containment_pairs puts on
    frequent shingles; a hub shared by everything predicts nothing
    anyway). Scoring still uses full true degrees. One shuffle for the
    neighbor list, one for the wedge join, one for the pair count;
    every key's work is bounded by the cap, so the plan survives a
    power-law degree distribution at 100 TB.

    Determinism: the score is a single integer-ratio division — no
    order-dependent float accumulation on either engine."""
    _, edges, _ = citation_edges(spark, sf_dir)
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    nbr = tracked_persist(
        und.select(F.col("a").alias("node"), F.col("b").alias("nb"))
        .unionByName(und.select(F.col("b").alias("node"),
                                F.col("a").alias("nb")))
        .distinct())
    deg = tracked_persist(
        nbr.groupBy("node").agg(F.count("*").cast("bigint").alias("d")))
    low_hub = deg.filter(F.col("d") <= _JACCARD_DEG_CAP) \
                 .select(F.col("node").alias("nb"))
    n1 = nbr.join(low_hub, "nb").select(F.col("node").alias("u"), "nb")
    n2 = nbr.select(F.col("node").alias("w"), "nb")
    wedges = n1.join(n2, "nb").filter(F.col("u") < F.col("w"))
    common = wedges.groupBy("u", "w").agg(
        F.count("*").cast("bigint").alias("n_common"))
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dw = deg.select(F.col("node").alias("w"), F.col("d").alias("dw"))
    return (
        common.filter(F.col("n_common") >= 2)
        .join(du, "u").join(dw, "w")
        .select("u", "w", "n_common",
                F.round(F.col("n_common").cast("double")
                        / (F.col("du") + F.col("dw") - F.col("n_common")),
                        6).alias("jaccard"))
    )


_BFS_HOPS = 5
_BFS_SEED_MOD = 17


@query(
    "gr_bfs_distance",
    survey=("GR-bfs", "J9"),
    oracle=f"""
        WITH RECURSIVE {_GRAPH_SQL},
        reach(node, dist) AS (
            SELECT doc_id, 0 FROM documents
            WHERE doc_id % {_BFS_SEED_MOD} = 0
            UNION ALL
            SELECT e.dst, r.dist + 1
            FROM reach r JOIN edges e ON e.src = r.node
            WHERE r.dist < {_BFS_HOPS}
        )
        SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes
        FROM (SELECT node, CAST(min(dist) AS INT) AS dist
              FROM reach GROUP BY node)
        GROUP BY dist
    """,
)
def gr_bfs_distance(spark, sf_dir):
    """Multi-source BFS: minimum hop distance from a seed set
    (doc_id % {_BFS_SEED_MOD} = 0) over directed citation edges,
    bounded at {_BFS_HOPS} hops, reported as a reachability histogram
    (distance → node count) — the traversal the reference's lineage
    walk (J9) does one row at a time in Python.

    Spark runs level-synchronous frontier expansion: each round joins
    the CURRENT FRONTIER ONLY (not the visited set) against the edge
    list, anti-joins out already-visited nodes, and unions the new
    level in; lineage is truncated via iterate()'s localCheckpoint so
    the plan stays bounded at any depth. Frontier-only expansion means
    each edge is traversed at most once per endpoint level — the
    textbook Pregel BFS — while the oracle's recursive CTE enumerates
    bounded-depth paths and takes min(dist). One join + one anti-join
    per level, all on the edge key; no global state."""
    nodes, edges, _ = citation_edges(spark, sf_dir)
    seeds = nodes.filter(F.col("doc_id") % _BFS_SEED_MOD == 0) \
                 .select(F.col("doc_id").alias("node"))
    edges = tracked_persist(edges)

    # state: (node, dist, frontier) — visited set with the last level
    # flagged; step expands only the flagged frontier.
    state = seeds.select("node", F.lit(0).alias("dist"),
                         F.lit(True).alias("frontier"))

    def step(st: DataFrame, i: int) -> DataFrame:
        frontier = st.filter(F.col("frontier")).select("node")
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node")).distinct()
            .join(st.select("node"), "node", "left_anti")
            .select("node", F.lit(i + 1).alias("dist"),
                    F.lit(True).alias("frontier"))
        )
        return st.select("node", "dist", F.lit(False).alias("frontier")) \
                 .unionByName(nxt)

    final = iterate(state, step, _BFS_HOPS, checkpoint_every=2)
    return final.groupBy("dist").agg(
        F.count("*").cast("bigint").alias("n_nodes")) \
        .select(F.col("dist").cast("int").alias("dist"), "n_nodes")


_LAYER_ROUNDS = 6


@query(
    "gr_dag_layering",
    survey=("J9", "GR-iter"),
    oracle=f"""
        WITH RECURSIVE {_GRAPH_SQL},
        dag AS (SELECT src, dst FROM edges WHERE src < dst),
        walk (v, d) AS (
            SELECT doc_id, 0 FROM documents
            UNION ALL
            SELECT dag.dst, w.d + 1
            FROM walk w JOIN dag ON dag.src = w.v
            WHERE w.d < {_LAYER_ROUNDS}
        ),
        layer AS (
            SELECT v AS doc_id, CAST(max(d) AS BIGINT) AS layer
            FROM walk GROUP BY v
        )
        SELECT layer, CAST(count(*) AS BIGINT) AS n_nodes
        FROM layer GROUP BY layer
    """,
)
def gr_dag_layering(spark, sf_dir):
    """Topological layering (bounded longest-path rank) of the
    citation graph ORIENTED into a DAG by ascending doc id — the
    scheduling depth a staged pipeline derives from its dependency
    graph (the reference's chained activity levels, models
    activity_src FK). layer(v) = length of the longest ascending path
    ending at v, truncated at {_LAYER_ROUNDS}; returned as a layer
    histogram.

    The engine side is Bellman-Ford-style RELAXATION through
    iterate(): each round joins the current per-node layer to the DAG
    edges and takes max(layer, 1 + max(pred layer)) — O(E) per round,
    n rows of state, lineage truncated every 2 rounds. The oracle
    instead ENUMERATES all bounded ascending walks in a recursive CTE
    and takes max(d) per endpoint — exponential in principle, fine at
    oracle scale, and a genuinely independent formulation of the same
    quantity (relaxation vs enumeration agreeing is a strong check).

    100 TB: per-round cost is one shuffle of the (pre-filtered,
    persisted) ascending edge set joined to n-row state; no global
    sort; layer values are small ints. Orientation by id is the
    standard acyclicizer for dedup/lineage DAGs (each undirected pair
    contributes its ascending direction only)."""
    nodes, edges, _n = citation_edges(spark, sf_dir)
    dag = tracked_persist(edges.filter(F.col("src") < F.col("dst")))

    state = nodes.select("doc_id", F.lit(0).alias("layer"))

    def step(st: DataFrame, _i: int) -> DataFrame:
        cand = (
            st.join(dag, st["doc_id"] == dag["src"])
            .groupBy(F.col("dst").alias("doc_id"))
            .agg((F.max("layer") + 1).alias("cand"))
        )
        return (
            st.join(cand, "doc_id", "left")
            .select("doc_id",
                    F.greatest("layer", F.coalesce("cand", F.lit(0)))
                    .alias("layer"))
        )

    final = iterate(state, step, _LAYER_ROUNDS, checkpoint_every=2)
    return final.groupBy(F.col("layer").cast("bigint").alias("layer")).agg(
        F.count("*").cast("bigint").alias("n_nodes"))


@query(
    "gr_degree_assortativity",
    survey=("GR-triangles", "A7"),
    oracle=f"""
        WITH {_GRAPH_SQL},
        outd AS (
            SELECT src, CAST(count(*) AS BIGINT) AS x
            FROM edges GROUP BY src
        ),
        ind AS (
            SELECT dst, CAST(count(*) AS BIGINT) AS y
            FROM edges GROUP BY dst
        ),
        exy AS (
            SELECT o.x, i.y
            FROM edges e
            JOIN outd o ON o.src = e.src
            JOIN ind i ON i.dst = e.dst
        ),
        s AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(sum(y * y) AS BIGINT) AS syy
            FROM exy
        )
        SELECT n AS n_edges,
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE)),
                     6) AS assortativity
        FROM s
    """,
)
def gr_degree_assortativity(spark, sf_dir):
    """Degree assortativity (Newman 2002, public) of the citation
    graph: the Pearson correlation, over directed edges, of the
    source's out-degree with the target's in-degree. Positive =
    hubs cite hubs (link-ring / boilerplate smell in a web corpus);
    negative = hubs cite the long tail. Complements the degree
    histogram and triangle count as a corpus-graph quality signal.

    Determinism contract: every moment (n, Σx, Σy, Σxy, Σx², Σy²) is
    an exact int64 sum of small integers — order-independent — and the
    correlation is ONE double expression over those exact integers
    (products cast to double only where n·Σx² − (Σx)² squared would
    overflow int64 at scale), so both engines compute bit-identical
    bytes before the 6-decimal round.

    100 TB: two degree aggregates (shuffle on src / dst), two
    equi-joins back to the edge table (degree tables are node-sized
    and co-partitioned with the join keys), one fused moment
    aggregate. No driver collect, no sort."""
    _nodes, edges, _n = citation_edges(spark, sf_dir)
    edges = tracked_persist(edges)
    outd = edges.groupBy("src").agg(
        F.count("*").cast("bigint").alias("x"))
    ind = edges.groupBy("dst").agg(
        F.count("*").cast("bigint").alias("y"))
    exy = edges.join(outd, "src").join(ind, "dst")
    s = exy.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        .cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) \
        .cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")) \
        .cast("double")
    return s.select(
        F.col("n").alias("n_edges"),
        F.round(num / F.sqrt(vx * vy), 6).alias("assortativity"))


@query(
    "gr_reciprocity",
    survey=("GR-triangles",),
    oracle=f"""
        WITH {_GRAPH_SQL},
        nonloop AS (SELECT src, dst FROM edges WHERE src <> dst),
        recip AS (
            SELECT a.src, a.dst
            FROM nonloop a JOIN nonloop b
              ON b.src = a.dst AND b.dst = a.src
        )
        SELECT CAST((SELECT count(*) FROM nonloop) AS BIGINT) AS n_edges,
               CAST((SELECT count(*) FROM recip) AS BIGINT)
                 AS n_reciprocated,
               round(CAST((SELECT count(*) FROM recip) AS DOUBLE)
                     / (SELECT count(*) FROM nonloop), 6) AS reciprocity
    """,
)
def gr_reciprocity(spark, sf_dir):
    """Edge reciprocity of the citation graph: the fraction of
    non-loop directed edges whose reverse edge also exists (Newman
    2002, public). Mutual-citation rings are a link-spam signature in
    web corpora — near-zero reciprocity is the organic baseline,
    spikes flag coordinated boilerplate; complements assortativity
    and the triangle count as the third graph-shape quality signal.

    Exact integer counting: the reciprocated set is ONE self
    equi-join on the reversed key (never all-pairs), the ratio is one
    double division of exact int64 counts — bit-deterministic.

    100 TB: the join is keyed (dst, src) against (src, dst) — both
    sides are the same hash-partitioned edge table, so at scale this
    co-partitions; cost is one shuffle of the edge set."""
    _nodes, edges, _n = citation_edges(spark, sf_dir)
    nonloop = tracked_persist(
        edges.filter(F.col("src") != F.col("dst")))
    rev = nonloop.select(F.col("dst").alias("src"),
                         F.col("src").alias("dst"),
                         F.lit(1).alias("m"))
    # left join + count(m) gets BOTH counts from ONE aggregate — no
    # scalar re-attach, no nested-loop join anywhere (edges are
    # distinct by construction, so the marker join is 1:0/1)
    marked = nonloop.join(rev, ["src", "dst"], "left")
    return marked.agg(
        F.count("*").cast("bigint").alias("n_edges"),
        F.count("m").cast("bigint").alias("n_reciprocated"),
        F.round(F.count("m").cast("double") / F.count("*"), 6)
        .alias("reciprocity"))


@query(
    "gr_clustering_coefficient",
    survey=("GR-triangles", "GR-degrees"),
    oracle="WITH " + _GRAPH_SQL + """,
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst
    ),
    nbr AS (
        SELECT a AS v FROM und UNION ALL SELECT b FROM und
    ),
    deg AS (
        SELECT v, CAST(count(*) AS BIGINT) AS degree FROM nbr GROUP BY v
    ),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    pert AS (
        SELECT v, CAST(count(*) AS BIGINT) AS n_triangles
        FROM (SELECT x AS v FROM tri
              UNION ALL SELECT y FROM tri
              UNION ALL SELECT z FROM tri)
        GROUP BY v
    )
    SELECT d.v AS doc_id, d.degree,
           COALESCE(p.n_triangles, CAST(0 AS BIGINT)) AS n_triangles,
           round(2.0 * CAST(COALESCE(p.n_triangles, 0) AS DOUBLE)
                 / (d.degree * (d.degree - 1)), 10) AS clustering_coeff
    FROM deg d LEFT JOIN pert p ON p.v = d.v
    WHERE d.degree >= 2
""",
)
def gr_clustering_coefficient(spark, sf_dir):
    """Local clustering coefficient per node (Watts-Strogatz 1998 —
    public): C(v) = 2·T(v) / (d(v)·(d(v)−1)), where T(v) counts
    triangles through v and d(v) is the undirected degree. The
    boilerplate-ring detector at node granularity: link farms show
    near-1 coefficients on mid-degree nodes, organic citation graphs
    sit far lower — gr_triangle_count gives the global count, this
    gives the per-node signal curation can threshold on.

    Exactness: T and d are exact int64 (each triangle credited to its
    3 vertices via an explode + one map-side-combined count); the
    coefficient is ONE final double division of exact ints —
    bit-deterministic.

    Scale: the oriented-wedge closure is the same two-equi-join plan
    as gr_triangle_count (orientation bounds per-vertex fan-out); the
    per-vertex credit is one explode (3 rows per triangle) + one
    count shuffle. Nodes with degree < 2 have no defined coefficient
    and are excluded on both engines."""
    _, edges, _ = citation_edges(spark, sf_dir)
    und = tracked_persist(
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"))
        .distinct()
    )  # scanned 4 times: degree + three wedge-join legs
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v").agg(F.count("*").cast("bigint").alias("degree"))
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(e3, (F.col("e3.a") == F.col("e1.a"))
              & (F.col("e3.b") == F.col("e2.b")))
        .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"),
                F.col("e2.b").alias("z"))
    )
    pert = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("v"))
        .groupBy("v").agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    t3 = F.coalesce("n_triangles", F.lit(0).cast("bigint"))
    return (
        deg.join(pert, "v", "left")
        .filter(F.col("degree") >= 2)
        .select(
            F.col("v").alias("doc_id"), "degree",
            t3.alias("n_triangles"),
            F.round(F.lit(2.0) * t3.cast("double")
                    / (F.col("degree") * (F.col("degree") - 1)), 10)
            .alias("clustering_coeff"))
    )


@query(
    "gr_harmonic_centrality",
    survey=("GR-bfs", "GR-degrees"),
    oracle="WITH " + _GRAPH_SQL + """,
    undd AS (
        SELECT src AS u, dst AS v FROM edges WHERE src <> dst
        UNION
        SELECT dst, src FROM edges WHERE src <> dst
    ),
    d1 AS (SELECT u, v FROM undd),
    d2 AS (
        SELECT DISTINCT a.u, b.v
        FROM d1 a JOIN d1 b ON b.u = a.v
        WHERE a.u <> b.v
        EXCEPT SELECT u, v FROM d1
    ),
    d3 AS (
        SELECT DISTINCT a.u, b.v
        FROM d2 a JOIN d1 b ON b.u = a.v
        WHERE a.u <> b.v
        EXCEPT (SELECT u, v FROM d1 UNION SELECT u, v FROM d2)
    ),
    c1 AS (SELECT u, CAST(count(*) AS BIGINT) AS n1 FROM d1 GROUP BY u),
    c2 AS (SELECT u, CAST(count(*) AS BIGINT) AS n2 FROM d2 GROUP BY u),
    c3 AS (SELECT u, CAST(count(*) AS BIGINT) AS n3 FROM d3 GROUP BY u)
    SELECT d.doc_id,
           coalesce(c1.n1, 0) AS n_dist1,
           coalesce(c2.n2, 0) AS n_dist2,
           coalesce(c3.n3, 0) AS n_dist3,
           round((6 * coalesce(c1.n1, 0) + 3 * coalesce(c2.n2, 0)
                  + 2 * coalesce(c3.n3, 0)) / 6.0, 6) AS harmonic_c3
    FROM documents d
    LEFT JOIN c1 ON c1.u = d.doc_id
    LEFT JOIN c2 ON c2.u = d.doc_id
    LEFT JOIN c3 ON c3.u = d.doc_id
""",
)
def gr_harmonic_centrality(spark, sf_dir):
    """Harmonic centrality truncated at radius 3 (Boldi & Vigna 2014,
    public): H₃(v) = Σ 1/d(v,u) over nodes within undirected distance
    3 — the centrality that, unlike closeness, handles disconnected
    graphs gracefully (unreachable nodes contribute 0, no infinite
    denominators). The per-node reach counts n_dist1/2/3 come free
    and double as the neighborhood-growth profile (spam rings grow
    slower than organic hubs).

    EXACT at radius 3 via frontier set algebra: distance-k pairs =
    (distance-(k-1) ⋈ edges) minus all closer shells minus self —
    three equi-joins and two set subtractions, no per-node BFS loop.
    Exactness: shell sizes are exact int64; the harmonic sum 
    n1 + n2/2 + n3/3 is computed as (6n1+3n2+2n3)/6 — ONE double
    division of an exact integer, bit-deterministic.

    100 TB: shell-k volume is |V|·b^k (b = mean degree) — the known
    cost of exact fixed-radius centrality, shuffled on the frontier
    key; production at larger radii swaps the exact shells for
    HyperBall/HLL counters (the a18 pattern: same plan, mergeable
    sketch instead of the distinct), which is why the radius is
    capped and documented rather than iterated to the diameter.
    Reference anchor: J9 lineage traversal shares the frontier-join
    shape (functions/iterate.py)."""
    nodes, edges, _ = citation_edges(spark, sf_dir)
    nonself = edges.filter(F.col("src") != F.col("dst"))
    d1 = (
        nonself.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionAll(nonself.select(F.col("dst").alias("u"),
                                 F.col("src").alias("v")))
        .distinct()
    )
    d1 = tracked_persist(d1)  # reused by both expansion joins + count
    b = d1.select(F.col("u").alias("mid"), F.col("v").alias("w"))
    d2 = (
        d1.join(b, d1["v"] == b["mid"])
        .filter(F.col("u") != F.col("w"))
        .select("u", F.col("w").alias("v"))
        .subtract(d1)
    )
    d2 = tracked_persist(d2)
    d3 = (
        d2.join(b, d2["v"] == b["mid"])
        .filter(F.col("u") != F.col("w"))
        .select("u", F.col("w").alias("v"))
        .subtract(d1)
        .subtract(d2)
    )

    def cnt(df, name):
        return df.groupBy("u").agg(
            F.count("*").cast("bigint").alias(name))

    z = F.lit(0).cast("bigint")
    n1 = F.coalesce("n1", z)
    n2 = F.coalesce("n2", z)
    n3 = F.coalesce("n3", z)
    return (
        nodes.join(cnt(d1, "n1"), nodes["doc_id"] == F.col("u"), "left")
        .drop("u")
        .join(cnt(d2, "n2"), nodes["doc_id"] == F.col("u"), "left")
        .drop("u")
        .join(cnt(d3, "n3"), nodes["doc_id"] == F.col("u"), "left")
        .drop("u")
        .select(
            "doc_id",
            n1.alias("n_dist1"), n2.alias("n_dist2"), n3.alias("n_dist3"),
            F.round((6 * n1 + 3 * n2 + 2 * n3) / F.lit(6.0), 6)
            .alias("harmonic_c3"))
    )


@query(
    "gr_strongly_connected",
    survey=("GR-iter", "J9"),
    oracle=f"""
        WITH RECURSIVE {_GRAPH_SQL},
        reach(src, dst) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r
            JOIN edges e ON e.src = r.dst
        )
        SELECT d.doc_id AS node,
               CAST(coalesce(
                   (SELECT min(a.dst) FROM reach a
                    WHERE a.src = d.doc_id
                      AND a.dst < d.doc_id
                      AND EXISTS (SELECT 1 FROM reach b
                                  WHERE b.src = a.dst
                                    AND b.dst = d.doc_id)),
                   d.doc_id) AS BIGINT) AS scc_id
        FROM documents d
    """,
)
def gr_strongly_connected(spark, sf_dir):
    """EXACT strongly connected components over the directed citation
    graph, labeling every node with the minimum doc_id of its SCC —
    the directed counterpart of dd_cluster_components (which is
    undirected) and the missing member of the graph family: SCCs are
    what lineage-cycle detection and crawl-frontier analysis actually
    need (mutual reachability, not weak connectivity).

    Algorithm: distributed Trim + Forward-Backward coloring
    (Fleischer/Hendrickson/Pinar 2000; Orzan 2004; Slota/Rajamanickam
    /Madduri 2014 — all public). Each outer round: (1) TRIM nodes
    with no non-self in- or out-edges in the remaining subgraph
    (singleton SCCs, assigned directly); (2) COLOR: propagate the
    MAXIMUM ancestor id forward to a fixpoint — by construction every
    node on a path between two same-color nodes shares that color, so
    color classes are closed over SCCs; (3) BACKWARD: from each root
    (color(v) == v), mark nodes that reach their root WITHIN their
    color class — marked nodes are exactly SCC(root) (any escape
    through a higher-colored node would contradict the root's own
    color); (4) assign each extracted SCC the min member id, remove,
    repeat. Every fixpoint is detected by a one-scalar changed-row
    count (config-sized driver reads); lineage is truncated with
    localCheckpoint every few rounds, the house iterate() recipe.

    Worst case is O(n) outer rounds (a reverse id-ordered chain of
    SCCs); the trim pass removes chain tails a level per round and
    real graphs (including this one) finish in a handful of rounds —
    the published behavior of FW-BW-Trim. The oracle computes the
    same labels from a recursive-CTE transitive closure, feasible
    only at oracle scale; Spark never materializes a closure.

    100 TB: both fixpoints are FRONTIER-based delta iterations — the
    forward coloring joins only last-round-changed vertices' out-edges
    (semi-naive evaluation of the monotone max semilattice), the
    backward sweep joins only newly-marked vertices' in-edges — so a
    late round touching 5 vertices costs 5 vertices' edges, not O(E);
    state is one row per active node, monotonically shrinking; no
    all-pairs structure anywhere."""
    nodes, edges, _ = citation_edges(spark, sf_dir)
    return scc_labels(nodes.select(F.col("doc_id").alias("v")), edges)


# Edge hops folded into one materialized round of the SCC color push.
# Each extra hop trades join volume for one fewer scheduler/checkpoint
# barrier per round. Round-9 measurement (VERDICT-r8 task 5) at sf0.1,
# warm runs, local[32], two samples each, back-to-back on one machine:
# 2 hops {9.19, 9.64}s — 3 hops {9.08, 9.91}s — 4 hops {10.95}s.
# 2 vs 3 is inside the noise band; 4 is clearly join-volume-bound.
# KEEP 2: the barrier it would remove is a local-mode scheduler floor,
# while the h3 join volume is real shuffle that scales with data —
# at 1000 executors the trade only gets worse. Labels are
# hop-count-invariant (max semilattice; the strict-raise filter drops
# under-bids) — pinned by the Tarjan cross-check tests.
_SCC_COLOR_HOPS = 2


def scc_labels(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """FW-BW-Trim SCC engine behind :func:`gr_strongly_connected` —
    factored out so tests can drive it with ADVERSARIAL synthetic
    graphs (chains of cycles, long paths) beyond the derived citation
    graph. ``nodes`` is (v); ``edges`` is (src, dst) with both
    endpoints in the node domain. Returns (node, scc_id=min member).
    """
    from bdc_collection_builder_spark.functions.rounds import note_rounds

    edges = tracked_persist(edges)

    remaining = nodes
    assigned = None  # accumulated (node, scc_id)

    def acc(a: DataFrame | None, b: DataFrame) -> DataFrame:
        return b if a is None else a.unionByName(b)

    outer = 0
    while True:
        remaining = remaining.localCheckpoint(eager=True)
        if remaining.count() == 0:
            break
        outer += 1
        note_rounds(1)
        if outer == 1:
            # remaining == all nodes and citation_edges guarantees
            # both endpoints in-domain, so the restriction is the
            # identity — reuse the persisted edge table directly
            er = edges
        else:
            er = (
                edges.join(remaining.withColumnRenamed("v", "src"),
                           "src", "left_semi")
                .join(remaining.withColumnRenamed("v", "dst"), "dst",
                      "left_semi")
                .select("src", "dst")
                .localCheckpoint(eager=True)
            )
        # (1) trim: no non-self in-edge or no non-self out-edge
        nonself = er.filter(F.col("src") != F.col("dst"))
        has_in = nonself.select(F.col("dst").alias("v")).distinct()
        has_out = nonself.select(F.col("src").alias("v")).distinct()
        core = (
            remaining.join(has_in, "v", "left_semi")
            .join(has_out, "v", "left_semi")
        )
        trivial = remaining.join(core, "v", "left_anti")
        assigned = acc(assigned, trivial.select(
            F.col("v").alias("node"), F.col("v").alias("scc_id")))
        core = core.localCheckpoint(eager=True)
        if core.count() == 0:
            remaining = core
            continue
        ec = (
            nonself.join(core.withColumnRenamed("v", "src"), "src",
                         "left_semi")
            .join(core.withColumnRenamed("v", "dst"), "dst",
                  "left_semi")
            .localCheckpoint(eager=True)
        )
        # (2) color: forward max-ancestor propagation to fixpoint,
        # FRONTIER-based (delta iteration): only vertices whose color
        # changed last round push through their out-edges. Correct for
        # the same reason semi-naive Datalog evaluation is: max over a
        # semilattice is monotone and idempotent, every edge pushes
        # once from the all-vertex initial frontier, and afterwards a
        # neighbor's bound can only rise when some in-neighbor's color
        # actually rose — which puts that in-neighbor in the frontier.
        # Same fixpoint, byte-identical labels (cross-checked against
        # an in-process Tarjan in tests/test_new_ops_properties.py);
        # per-round join cost drops from O(E) to O(frontier
        # out-degree), which is what makes late rounds (a handful of
        # still-moving vertices) cheap instead of full-graph scans
        # (VERDICT-r7 What's-wrong #1).
        color = core.select("v", F.col("v").alias("c"))
        color = color.localCheckpoint(eager=True)
        upd = color  # seed: every vertex counts as changed last round
        while True:
            note_rounds(1)
            # _SCC_COLOR_HOPS edge hops in the SAME materialized
            # round: push the 1-hop candidates onward before the
            # max-aggregate. Sound under max semantics (a candidate
            # color c at mid still reaches dst through mid), and
            # divides the number of scheduler/checkpoint barriers on
            # BFS-depth-bound color spreads by the hop count;
            # under-bidding candidates are dropped by the strict
            # cin > c filter as always. Hop count chosen by the
            # round-9 measurement (VERDICT-r8 task 5): at sf0.1 the
            # per-round scheduler floor dominates the extra join
            # volume, see the constant's comment for the numbers.
            hop = (
                ec.join(upd.withColumnRenamed("v", "src"), "src")
                .select(F.col("dst").alias("v"), "c")
            )
            push_e = hop
            for _ in range(_SCC_COLOR_HOPS - 1):
                hop = (
                    ec.join(hop.withColumnRenamed("v", "src")
                            .withColumnRenamed("c", "hc"), "src")
                    .select(F.col("dst").alias("v"),
                            F.col("hc").alias("c"))
                )
                push_e = push_e.unionByName(hop)
            # pointer-jumping shortcut: v's color c is itself a core
            # vertex; if c's own color rose last round, v may adopt it
            # directly — "max id that reaches me" is transitive (w
            # reaches c and c reaches v ⇒ w reaches v), so the jump
            # is sound and the fixpoint is unchanged, while rounds
            # drop from O(diameter) to O(log diameter) (the classic
            # shortcut step of pointer-jumping CC algorithms).
            push_s = (
                color.select("v", F.col("c").alias("via"))
                .join(upd.select(F.col("v").alias("via"),
                                 F.col("c").alias("cnew")), "via")
                .select("v", F.col("cnew").alias("c"))
            )
            push = (
                push_e.unionByName(push_s)
                .groupBy("v").agg(F.max("c").alias("cin"))
            )
            # only pushed-to vertices can change; strict raise only
            upd = (
                push.join(color, "v")
                .filter(F.col("cin") > F.col("c"))
                .select("v", F.col("cin").alias("c"))
                .localCheckpoint(eager=True)
            )
            if upd.count() == 0:
                break
            color = (
                color.join(upd.withColumnRenamed("c", "cnew"), "v",
                           "left")
                .select("v", F.coalesce("cnew", "c").alias("c"))
                .localCheckpoint(eager=True)
            )
        # (3) backward sweep within color class from each root —
        # TRUE-frontier BFS (expand only last round's NEW marks: old
        # marks' predecessors were already admitted or color-rejected,
        # and color is frozen here) taking TWO edge-hops per
        # materialized round, halving the scheduler/checkpoint
        # barriers on long chains at identical join volume.
        mark = (color.filter(F.col("v") == F.col("c"))
                .select("v", "c").localCheckpoint(eager=True))
        frontier = mark

        def back_step(front: DataFrame, seen: DataFrame) -> DataFrame:
            return (
                ec.join(front.withColumnRenamed("v", "dst"), "dst")
                .select(F.col("src").alias("v"), "c").distinct()
                .join(color.withColumnRenamed("c", "vc"), "v")
                .filter(F.col("c") == F.col("vc"))
                .select("v", "c")
                .join(seen, ["v", "c"], "left_anti")
            )

        while True:
            note_rounds(1)
            step1 = back_step(frontier, mark)
            step2 = back_step(step1, mark.unionByName(step1))
            new = step1.unionByName(step2).localCheckpoint(eager=True)
            if new.count() == 0:
                break
            mark = mark.unionByName(new).localCheckpoint(eager=True)
            frontier = new
        # (4) scc_id = min member id per extracted class
        scc_min = mark.groupBy("c").agg(F.min("v").alias("scc_id"))
        assigned = acc(assigned, mark.join(scc_min, "c").select(
            F.col("v").alias("node"), "scc_id"))
        assigned = assigned.localCheckpoint(eager=True)
        remaining = core.join(mark.select("v"), "v", "left_anti")
    return assigned.select("node", F.col("scc_id").cast("bigint"))

"""Host-graph analytics: PageRank over a deterministically derived link
graph.

The reference walks a site graph — service catalogs → layers → tile/page
fetches (/root/reference/suplicmap_tilemap.py:33-96 discovers children from
a parent listing; getHtml.py follows extracted links) — and ranking hosts
by incoming link mass is the canonical iterative-graph workload over that
crawl output. The fixture has no edge table, so ``g1`` derives one
deterministically from ``documents``: each document contributes one edge

    src = its ``source`` host
    dst = hosts[pmod(murmur3(doc_id), |hosts|)]

where murmur3 is Spark's ``hash()`` over a BIGINT, reproduced bit-exactly
in DuckDB by :mod:`spider_spark.operators.sqlmurmur` (the same parity layer
d3/d4/ann_ivf oracles use). Multi-edges and self-loops are kept.

PageRank runs in **fixed-point bigint arithmetic** (SCALE = 10^12, floor
division, ``_ITERS`` iterations, damping 85/100): every per-iteration sum
is over integers, hence order-invariant, hence bit-identical between
Spark's parallel partial aggregation and the DuckDB unrolled-CTE oracle.
A float PageRank would flip the driver's value hash on summation order
alone. Dangling mass (hosts with no out-edges) is dropped by definition —
the same convention on both engines — so ranks are a relative ordering,
not a probability distribution.

Scale shape (100 TB): score vectors (ranks / trust / hub / auth) are
|hosts|-sized. At 10^6 hosts that is broadcastable and each iteration is a
broadcast hash join of scores onto the edge table plus ONE map-side-
combinable SUM shuffle keyed on ``dst``. At Common-Crawl cardinality
(10^8–10^9 hosts) a score table is tens of GB — over Spark's broadcast
ceiling — so above ``_BCAST_HOSTS_MAX`` every iterative op here switches to
the standard Pregel layout: the edge table is hash-partitioned on its join
key ONCE and pinned with ``persist()`` (a cached plan keeps its
``outputPartitioning``; a localCheckpoint drops it behind a Scan
ExistingRDD and would re-shuffle the edges every iteration — measured),
the score vector stays hash-partitioned on ``host_id`` across iterations,
and each step is a co-partitioned shuffled-hash join — the only
per-iteration exchange is the SUM keyed on the opposite endpoint (the
score exchange); the edge table never moves again. The same gate covers
host-id assignment and the final ranking: both use the two-phase
range-partition + driver prefix-sum of
:func:`spider_spark.operators.scalewin.two_phase_order_index` instead of a
single-partition global window.
"""

from __future__ import annotations

import os

from spider_spark.operators import load, query
from spider_spark.operators.scalewin import two_phase_order_index
from spider_spark.operators.sqlmurmur import hashlong_aliases

_SCALE = 10**12
_DAMP_NUM, _DAMP_DEN = 85, 100
_ITERS = 5

# Above this host cardinality the |hosts|-sized score/degree tables stop
# being broadcastable (10^8-10^9 hosts × ~16 B ≈ tens of GB — over Spark's
# 8 GB broadcast hard cap and any sane driver heap) and every g-op flips to
# the co-partitioned Pregel layout. Env-overridable so tests exercise the
# at-scale plan shape on fixture data.
_BCAST_HOSTS_MAX = int(
    os.environ.get("SPIDER_GRAPH_BCAST_MAX_HOSTS", "2000000")
)


def _maybe_broadcast(df, n_rows: int):
    """Broadcast hint only while the relation provably fits: ``n_rows`` is
    an already-computed exact count (never an estimate). Above the gate the
    join is left to shuffle — Catalyst/AQE may still pick a broadcast at
    runtime if actual bytes are small, but nothing FORCES a tens-of-GB
    broadcast the way an unconditional hint would."""
    from pyspark.sql import functions as F

    return F.broadcast(df) if n_rows <= _BCAST_HOSTS_MAX else df


def _shuffle_parts(spark) -> int:
    return max(1, int(spark.conf.get("spark.sql.shuffle.partitions") or "32"))


def _dense_rank_desc(df, col: str, out_col: str):
    """Exact ``DENSE_RANK() OVER (ORDER BY col DESC)`` at scale: rank the
    DISTINCT value table via the two-phase index (ties collapse in the
    distinct, so index == dense rank), then join the rank back on the
    value. The rank table is |distinct values|-sized and broadcast while
    its exact count clears the gate (the common case — fixed-point scores
    collide heavily); past the gate it falls back to a shuffle join on the
    value key, where AQE's skew-join splitting absorbs a heavily-tied
    score (e.g. trust = 0 for most unreachable hosts)."""
    ranked, n = two_phase_order_index(
        df.select(col).distinct(), [(col, True)], out_col, start=1
    )
    return df.join(_maybe_broadcast(ranked, n), col)

# Shared derived-graph CTEs: dense host ids + one edge per document
# (dst = pmod(Spark hash(doc_id), |hosts|)), used by every g* oracle.
_GRAPH_CTES = f"""
hosts AS (
  SELECT source, ROW_NUMBER() OVER (ORDER BY source) - 1 AS host_id
  FROM (SELECT DISTINCT source FROM documents)
),
hn AS (SELECT COUNT(*) AS h FROM hosts),
hashed AS (
  SELECT doc_id, source, {hashlong_aliases("doc_id", "42", "mh", "g")}
  FROM documents
),
edges0 AS (
  SELECT hs.host_id AS src, ((d.mh % hn.h) + hn.h) % hn.h AS dst
  FROM hashed d JOIN hosts hs ON hs.source = d.source CROSS JOIN hn
)"""


def _derived_graph(spark, sf_dir: str):
    """(hosts, n_hosts, edges0) — dense host ids and the per-document edge
    multiset, the Spark twin of ``_GRAPH_CTES``. Host ids come from the
    two-phase order index over the distinct-host table (domain cardinality,
    never the documents), so no single-partition window exists at any host
    count; the id values are identical to ``row_number() OVER (ORDER BY
    source) - 1``, which is what the oracle CTE computes. The hosts→
    documents join is broadcast only below the host-count gate."""
    from pyspark.sql import functions as F

    d = load(spark, sf_dir, "documents")
    hosts, n_hosts = two_phase_order_index(
        d.select("source").distinct(), [("source", False)], "host_id"
    )
    edges0 = (
        d.join(_maybe_broadcast(hosts, n_hosts), "source")
        .select(
            F.col("host_id").alias("src"),
            F.pmod(F.hash("doc_id"), F.lit(n_hosts)).cast("long").alias("dst"),
        )
    )
    return hosts, n_hosts, edges0


def _oracle() -> str:
    iters = []
    for k in range(_ITERS):
        iters.append(f"""
  r{k + 1} AS (
    SELECT hs.host_id,
           ((({_DAMP_DEN - _DAMP_NUM} * {_SCALE}) // ({_DAMP_DEN} * hn.h))
            + ({_DAMP_NUM} * COALESCE(i.inc, 0)) // {_DAMP_DEN})::BIGINT AS pr
    FROM hosts hs CROSS JOIN hn
    LEFT JOIN (
      SELECT e.dst AS host_id, SUM(r.pr // e.deg) AS inc
      FROM edges e JOIN r{k} r ON r.host_id = e.src
      GROUP BY e.dst
    ) i ON i.host_id = hs.host_id
  )""")
    return f"""
WITH {_GRAPH_CTES},
edges AS (
  SELECT src, dst, COUNT(*) OVER (PARTITION BY src) AS deg FROM edges0
),
r0 AS (
  SELECT host_id, ({_SCALE} // hn.h)::BIGINT AS pr FROM hosts CROSS JOIN hn
),{",".join(iters)}
SELECT hs.source, r.pr,
       DENSE_RANK() OVER (ORDER BY r.pr DESC) AS rk
FROM r{_ITERS} r JOIN hosts hs ON hs.host_id = r.host_id
"""


@query("g1_host_pagerank", _oracle())
def g1_host_pagerank(spark, sf_dir: str):
    from pyspark.sql import functions as F

    hosts, n_hosts, edges = _derived_graph(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    big = n_hosts > _BCAST_HOSTS_MAX
    if big:
        # Pregel layout (see module docstring): edges+deg joined and
        # hash-partitioned on src ONCE, pinned by persist() — a cached
        # plan KEEPS its outputPartitioning (canChangeCachedPlanOutput-
        # Partitioning defaults false), so no per-iteration edge
        # Exchange; localCheckpoint would lose the partitioning behind a
        # Scan ExistingRDD and re-shuffle edges every iteration (measured
        # — that's why persist, not checkpoint). No score broadcast:
        # shuffle_hash hints keep Catalyst from statically re-planning a
        # broadcast off the cache's (small at fixture scale) size stats,
        # and build the per-partition hash map on the |hosts|-sized side.
        # The persists deliberately outlive the returned (lazy) plan; a
        # materialized production run unpersists after the loop.
        P = _shuffle_parts(spark)
        edges = edges.join(deg.hint("shuffle_hash"), "src").repartition(
            P, "src"
        ).persist()
        edges.count()
        host_ids = hosts.select("host_id").repartition(P, "host_id").persist()
        host_ids.count()
    else:
        # Lazily returned, so no persist here: each iteration re-derives
        # the (column-pruned) edge subtree. In a materialized production
        # run you would .persist() edges once before the loop.
        edges = edges.join(F.broadcast(deg), "src")
        host_ids = hosts.select("host_id")

    base = ((_DAMP_DEN - _DAMP_NUM) * _SCALE) // (_DAMP_DEN * n_hosts)
    ranks = host_ids.select("host_id", F.lit(_SCALE // n_hosts).alias("pr"))
    for _ in range(_ITERS):
        r = ranks.hint("shuffle_hash") if big else F.broadcast(ranks)
        incoming = (
            edges.join(r, edges["src"] == r["host_id"])
            .select(edges["dst"].alias("host_id"), F.expr("pr div deg").alias("c"))
            .groupBy("host_id")
            .agg(F.sum("c").alias("inc"))
        )
        # big mode: host_ids is cached hash(host_id, P) and incoming comes
        # out of the aggregate already hash(host_id, P) — the left join is
        # co-partitioned, zero exchange; the groupBy above is the ONE
        # score exchange of the iteration.
        inc = incoming.hint("shuffle_hash") if big else incoming
        ranks = (
            host_ids.join(inc, "host_id", "left")
            .select(
                "host_id",
                (
                    F.lit(base)
                    + F.expr(f"({_DAMP_NUM} * coalesce(inc, 0L)) div {_DAMP_DEN}")
                ).alias("pr"),
            )
        )

    out = ranks.join(_maybe_broadcast(hosts, n_hosts), "host_id").select(
        "source", "pr"
    )
    return _dense_rank_desc(out, "pr", "rk").select("source", "pr", "rk")


_G2_ORACLE = f"""
WITH {_GRAPH_CTES},
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges0 WHERE src <> dst
),
deg AS (
  SELECT n, COUNT(*) AS d FROM (
    SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und
  ) GROUP BY n
),
o AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b
  FROM und e
  JOIN deg du ON du.n = e.u
  JOIN deg dv ON dv.n = e.v
),
tri AS (
  SELECT o1.a AS x, o1.b AS y, o2.b AS z
  FROM o o1
  JOIN o o2 ON o2.a = o1.b
  JOIN o o3 ON o3.a = o1.a AND o3.b = o2.b
),
part AS (
  SELECT n, COUNT(*) AS c FROM (
    SELECT x AS n FROM tri UNION ALL
    SELECT y AS n FROM tri UNION ALL
    SELECT z AS n FROM tri
  ) GROUP BY n
)
SELECT hs.source, COALESCE(p.c, 0)::BIGINT AS n_tri
FROM hosts hs LEFT JOIN part p ON p.n = hs.host_id
"""


@query("g2_triangle_count", _G2_ORACLE)
def g2_triangle_count(spark, sf_dir: str):
    """Per-host triangle participation over the derived undirected host
    graph, via degree orientation: every undirected edge points from its
    lower-(degree, id) endpoint to the higher one, so each triangle is
    enumerated exactly once as a→b→c with a<b<c in rank order, and each
    node's out-degree is bounded by O(sqrt(|E|)) — the join fan-out stays
    bounded on power-law web graphs where a raw wedge join on hot vertices
    would explode (cf. Suri & Vassilvitskii, WWW'11). Two equi-joins, both
    on node keys; integer counts only, so the cross-engine hash is exact.
    """
    from pyspark.sql import functions as F

    hosts, n_hosts, edges0 = _derived_graph(spark, sf_dir)

    und = (
        edges0.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    lo_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = (
        und.join(_maybe_broadcast(deg, n_hosts).select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(_maybe_broadcast(deg, n_hosts).select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        )
    )
    o1 = o.select(F.col("a").alias("x"), F.col("b").alias("y"))
    o2 = o.select(F.col("a").alias("y"), F.col("b").alias("z"))
    o3 = o.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = o1.join(o2, "y").join(o3, ["x", "z"])
    part = (
        tri.select(F.col("x").alias("n"))
        .unionAll(tri.select(F.col("y").alias("n")))
        .unionAll(tri.select(F.col("z").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        hosts.join(part, hosts["host_id"] == part["n"], "left")
        .select("source", F.coalesce("c", F.lit(0)).alias("n_tri"))
    )


_G3_ORACLE = f"""
WITH RECURSIVE {_GRAPH_CTES},
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges0 WHERE src <> dst
),
sym AS (SELECT u, v FROM und UNION SELECT v, u FROM und),
reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, e.v FROM reach r JOIN sym e ON r.v = e.u
),
lab AS (SELECT u AS n, least(u, min(v)) AS comp FROM reach GROUP BY u),
full_lab AS (
  SELECT hs.source, COALESCE(l.comp, hs.host_id) AS comp
  FROM hosts hs LEFT JOIN lab l ON l.n = hs.host_id
)
SELECT source, comp,
       CAST(COUNT(*) OVER (PARTITION BY comp) AS BIGINT) AS comp_size
FROM full_lab
"""


@query("g3_host_components", _G3_ORACLE)
def g3_host_components(spark, sf_dir: str):
    """Connected components over the undirected derived host graph — the
    "site cluster" view of a crawl (which hosts are mutually reachable
    through links, cf. the reference's catalog→layer→tile discovery chain
    in /root/reference/suplicmap_tilemap.py:33-96). Reuses
    :func:`spider_spark.operators.dedup.connected_components` — min-label
    propagation with the large-star/small-star contraction fallback, so a
    web-scale graph with a deep component still terminates in logarithmic
    rounds. Hosts with no (non-loop) edge are singleton components of
    themselves. Labels are integer host ids, so the cross-engine value
    hash is exact; the oracle is a DuckDB recursive-CTE transitive
    closure over the identical derived edge set.

    Scale shape: component labels live at host (domain) cardinality —
    millions of rows, broadcastable — while the documents table is touched
    exactly once to derive the edge multiset. comp_size is a window over
    the host-cardinality table only, partitioned by component.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spider_spark.operators.dedup import connected_components

    hosts, n_hosts, edges0 = _derived_graph(spark, sf_dir)
    e = (
        edges0.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )
    labels = connected_components(e)
    out = (
        hosts.join(labels, hosts["host_id"] == labels["id"], "left")
        .select(
            "source",
            F.coalesce(F.col("cluster"), F.col("host_id")).alias("comp"),
        )
    )
    return out.select(
        "source",
        "comp",
        F.count(F.lit(1)).over(Window.partitionBy("comp")).alias("comp_size"),
    )


_HITS_SCALE = 10**9
_HITS_ITERS = 3


def _hits_oracle() -> str:
    steps = []
    for k in range(1, _HITS_ITERS + 1):
        steps.append(f"""
  araw{k} AS (
    SELECT e.dst AS host_id, CAST(SUM(h.hub) AS BIGINT) AS raw
    FROM edges0 e JOIN h{k - 1} h ON h.host_id = e.src GROUP BY e.dst
  ),
  atot{k} AS (SELECT CAST(SUM(raw) AS BIGINT) AS t FROM araw{k}),
  a{k} AS (
    SELECT hs.host_id,
           CAST(COALESCE(r.raw // NULLIF(t.t // {_HITS_SCALE}, 0), 0)
                AS BIGINT) AS auth
    FROM hosts hs CROSS JOIN atot{k} t
    LEFT JOIN araw{k} r ON r.host_id = hs.host_id
  ),
  hraw{k} AS (
    SELECT e.src AS host_id, CAST(SUM(a.auth) AS BIGINT) AS raw
    FROM edges0 e JOIN a{k} a ON a.host_id = e.dst GROUP BY e.src
  ),
  htot{k} AS (SELECT CAST(SUM(raw) AS BIGINT) AS t FROM hraw{k}),
  h{k} AS (
    SELECT hs.host_id,
           CAST(COALESCE(r.raw // NULLIF(t.t // {_HITS_SCALE}, 0), 0)
                AS BIGINT) AS hub
    FROM hosts hs CROSS JOIN htot{k} t
    LEFT JOIN hraw{k} r ON r.host_id = hs.host_id
  )""")
    return f"""
WITH {_GRAPH_CTES},
h0 AS (SELECT host_id, {_HITS_SCALE}::BIGINT AS hub FROM hosts),{",".join(steps)}
SELECT hs.source, a.auth, h.hub
FROM hosts hs
JOIN a{_HITS_ITERS} a ON a.host_id = hs.host_id
JOIN h{_HITS_ITERS} h ON h.host_id = hs.host_id
"""


@query("g4_hits", _hits_oracle())
def g4_hits(spark, sf_dir: str):
    """HITS hubs-and-authorities over the derived directed host graph
    (Kleinberg, JACM'99) in **fixed-point bigint arithmetic**: each half-
    iteration is one broadcast join of the host-cardinality score vector
    onto the edge multiset plus ONE map-side-combinable integer SUM keyed
    on the opposite endpoint; normalization divides by (total // SCALE)
    so every intermediate stays within int64 (max |edges|*SCALE ≈ 1e19
    headroom at SCALE=1e9) and both engines floor-divide identically —
    a float HITS would flip the driver's value hash on summation order.
    Hosts with no in-links (auth) or out-links (hub) score 0 via the
    LEFT JOIN + COALESCE, same convention both sides.

    Scale shape: below the host-count gate, scores are |hosts|-sized and
    broadcast; the edge table is the only big operand and is never
    re-shuffled — each half-step is a broadcast hash join + one aggregate
    exchange keyed on a host id. Above the gate (10^8+ hosts — a score
    broadcast would be tens of GB per half-step), the Pregel layout: TWO
    pinned copies of the edge multiset, hash-partitioned on src and on dst
    (HITS alternates join sides, so co-partitioning needs both), the score
    vector kept hash-partitioned on host_id, every join a co-partitioned
    shuffled-hash join, and the normalization total collected as a scalar
    off the checkpointed raw vector (one O(1)-row job per half-step — the
    standard Pregel aggregator) instead of a 1-row broadcast cross join.
    """
    from pyspark.sql import functions as F

    hosts, n_hosts, edges0 = _derived_graph(spark, sf_dir)
    big = n_hosts > _BCAST_HOSTS_MAX
    edges0 = edges0.localCheckpoint(eager=True)
    if big:
        P = _shuffle_parts(spark)
        e_src = edges0.repartition(P, "src").persist()
        e_dst = edges0.repartition(P, "dst").persist()
        host_ids = hosts.select("host_id").repartition(P, "host_id").persist()
        for d_ in (e_src, e_dst, host_ids):
            d_.count()
    else:
        e_src = e_dst = edges0
        host_ids = hosts.select("host_id")

    def _normalize(raw, col):
        # materialize the |hosts|-sized raw vector before it is referenced
        # three times (total agg, broadcast join, and the next half-step):
        # without this each half-step re-embeds the prior subtree 3x and
        # the plan tree grows 3^(2·iters) — ~100 join nodes by iteration 3
        if big:
            raw = raw.persist()
            t = raw.agg(F.sum("raw").cast("long").alias("t")).collect()[0]["t"]
            denom = None if t is None else t // _HITS_SCALE
            # denom 0/None → small mode's `div nullif(..., 0)` nulls out
            # and coalesces to 0 for every host — same literal here
            scored = (
                F.coalesce(F.expr(f"raw div {denom}L"), F.lit(0).cast("long"))
                if denom
                else F.lit(0).cast("long")
            )
            return host_ids.join(
                raw.hint("shuffle_hash"), "host_id", "left"
            ).select("host_id", scored.alias(col))
        raw = raw.localCheckpoint(eager=True)
        tot = raw.agg(F.sum("raw").cast("long").alias("t"))
        return (
            hosts.select("host_id")
            .crossJoin(F.broadcast(tot))
            .join(F.broadcast(raw), "host_id", "left")
            .select(
                "host_id",
                F.coalesce(
                    F.expr(f"raw div nullif(t div {_HITS_SCALE}, 0)"),
                    F.lit(0).cast("long"),
                ).alias(col),
            )
        )

    hub = host_ids.select(
        "host_id", F.lit(_HITS_SCALE).cast("long").alias("hub")
    )
    auth = None
    for _ in range(_HITS_ITERS):
        h = hub.hint("shuffle_hash") if big else F.broadcast(hub)
        araw = (
            e_src.join(h, e_src["src"] == h["host_id"])
            .groupBy(e_src["dst"].alias("host_id"))
            .agg(F.sum("hub").cast("long").alias("raw"))
        )
        auth = _normalize(araw, "auth")
        a = auth.hint("shuffle_hash") if big else F.broadcast(auth)
        hraw = (
            e_dst.join(a, e_dst["dst"] == a["host_id"])
            .groupBy(e_dst["src"].alias("host_id"))
            .agg(F.sum("auth").cast("long").alias("raw"))
        )
        hub = _normalize(hraw, "hub")

    return (
        hosts.join(_maybe_broadcast(auth, n_hosts), "host_id")
        .join(_maybe_broadcast(hub, n_hosts), "host_id")
        .select("source", "auth", "hub")
    )


_G5_ORACLE = f"""
WITH {_GRAPH_CTES},
outd AS (
  SELECT src AS host_id, CAST(COUNT(*) AS BIGINT) AS out_deg,
         CAST(COUNT(DISTINCT dst) AS BIGINT) AS out_distinct
  FROM edges0 GROUP BY src
),
ind AS (
  SELECT dst AS host_id, CAST(COUNT(*) AS BIGINT) AS in_deg,
         CAST(COUNT(DISTINCT src) AS BIGINT) AS in_distinct
  FROM edges0 GROUP BY dst
)
SELECT hs.source,
       COALESCE(o.out_deg, 0)      AS out_deg,
       COALESCE(o.out_distinct, 0) AS out_distinct,
       COALESCE(i.in_deg, 0)       AS in_deg,
       COALESCE(i.in_distinct, 0)  AS in_distinct
FROM hosts hs
LEFT JOIN outd o ON o.host_id = hs.host_id
LEFT JOIN ind  i ON i.host_id = hs.host_id
"""


@query("g5_host_degrees", _G5_ORACLE)
def g5_host_degrees(spark, sf_dir: str):
    """Per-host degree profile over the derived directed host graph —
    out/in multi-edge degree and distinct-neighbor degree, the first
    thing a crawl operator reads off a link graph (fan-out, fan-in, and
    how much of each is duplicate linking). Two map-side-combinable
    aggregates over the edge multiset, broadcast-joined back onto the
    |hosts|-sized name table; the documents table is scanned once to
    derive the edges and never shuffled on anything but the host id.
    Pure integer counts — the cross-engine value hash is exact.
    """
    from pyspark.sql import functions as F

    hosts, n_hosts, edges0 = _derived_graph(spark, sf_dir)
    outd = edges0.groupBy(F.col("src").alias("host_id")).agg(
        F.count(F.lit(1)).alias("out_deg"),
        F.countDistinct("dst").alias("out_distinct"),
    )
    ind = edges0.groupBy(F.col("dst").alias("host_id")).agg(
        F.count(F.lit(1)).alias("in_deg"),
        F.countDistinct("src").alias("in_distinct"),
    )
    return (
        hosts.join(_maybe_broadcast(outd, n_hosts), "host_id", "left")
        .join(_maybe_broadcast(ind, n_hosts), "host_id", "left")
        .select(
            "source",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("out_distinct", F.lit(0)).alias("out_distinct"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            F.coalesce("in_distinct", F.lit(0)).alias("in_distinct"),
        )
    )


# ---------------------------------------------------------------------------
# g6 — co-visitation counts: the item-item collaborative-filtering shape
# ---------------------------------------------------------------------------

_G6_PAGES = 200
_G6_CAP = 20  # per-user history truncation, the standard CF practice
_G6_MIN_CO = 2


def _g6_oracle() -> str:
    from spider_spark.operators.sqlmurmur import hashlong_aliases

    return f"""
WITH visits AS (
  SELECT user_id, ((ph % {_G6_PAGES}) + {_G6_PAGES}) % {_G6_PAGES} AS page
  FROM (SELECT user_id, {hashlong_aliases("event_id", "42", "ph", "g6")}
        FROM events)
), vc AS (
  SELECT user_id, page, count(*) AS v
  FROM visits GROUP BY user_id, page
), topn AS (
  SELECT user_id, page FROM (
    SELECT user_id, page,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY v DESC, page) AS rn
    FROM vc
  ) WHERE rn <= {_G6_CAP}
)
SELECT a.page AS page_a, b.page AS page_b,
       count(*) AS co_count
FROM topn a JOIN topn b
  ON a.user_id = b.user_id AND a.page < b.page
GROUP BY a.page, b.page
HAVING count(*) >= {_G6_MIN_CO}
"""


@query("g6_covisitation", _g6_oracle())
def g6_covisitation(spark, sf_dir):
    """Co-visitation counts — the item-item collaborative-filtering /
    related-pages primitive: pages visited by the same user, paired
    within that user's TOP-20 history only (per-user history
    truncation is the standard practice that bounds the quadratic
    self-join: ≤ cap² pairs per user regardless of how heavy the user
    is — the same cap-the-oracle discipline d2 documents, except here
    the cap IS the production semantics, not a test shortcut). Visits
    derive deterministically from events (page = pmod(hash(event_id),
    200), murmur-parity with the oracle).

    Scale shape: groupBy(user_id, page) partial-aggregates the log;
    the top-N filter is a per-user window (key cardinality = users, no
    global window); the pair join is user-keyed equi-join of two ≤ cap
    row groups; final groupBy(page_a, page_b) is map-side combinable.
    No stage ever materializes an uncapped pair set."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    e = load(spark, sf_dir, "events")
    visits = e.select(
        "user_id",
        F.pmod(F.hash("event_id"), F.lit(_G6_PAGES)).alias("page"),
    )
    vc = visits.groupBy("user_id", "page").agg(F.count(F.lit(1)).alias("v"))
    w = Window.partitionBy("user_id").orderBy(F.desc("v"), "page")
    topn = (
        vc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _G6_CAP)
        .select("user_id", "page")
    )
    a = topn.select("user_id", F.col("page").alias("page_a"))
    b = topn.select("user_id", F.col("page").alias("page_b"))
    return (
        a.join(b, "user_id")
        .filter(F.col("page_a") < F.col("page_b"))
        .groupBy("page_a", "page_b")
        .agg(F.count(F.lit(1)).alias("co_count"))
        .filter(F.col("co_count") >= _G6_MIN_CO)
    )


# ---------------------------------------------------------------------------
# g7 — anchor-text aggregation: the classic webgraph signal (REP's
# "anchor text describes the target better than the target describes
# itself") — per target host, the top incoming anchor strings by count
# ---------------------------------------------------------------------------

_G7_TOPK = 3

_G7_ORACLE = f"""
WITH {_GRAPH_CTES},
anchors AS (
  SELECT ((h.mh % hn.h) + hn.h) % hn.h AS dst,
         array_to_string(list_slice(string_split(doc.text, ' '), 1, 3), ' ')
           AS anchor
  FROM hashed h JOIN documents doc USING (doc_id) CROSS JOIN hn
),
agg AS (SELECT dst, anchor, CAST(count(*) AS BIGINT) AS cnt
        FROM anchors GROUP BY dst, anchor),
ranked AS (
  SELECT dst, anchor, cnt,
         row_number() OVER (PARTITION BY dst
                            ORDER BY cnt DESC, anchor) AS rk
  FROM agg)
SELECT hs.source AS host, r.anchor, r.cnt, CAST(r.rk AS BIGINT) AS rk
FROM ranked r JOIN hosts hs ON hs.host_id = r.dst
WHERE r.rk <= {_G7_TOPK}
"""


@query("g7_anchor_topk", _G7_ORACLE)
def g7_anchor_topk(spark, sf_dir):
    """Anchor-text aggregation over the derived link graph: each edge
    (document linking src-host → dst-host, g1's derivation) carries the
    linking document's first 3 words as its anchor string; per target
    host, keep the top-3 anchors by incoming count (ties broken
    lexicographically). This is the signal web search and crawl
    prioritizers mine — what OTHER sites call a page.

    Scale shape (10^10 edges): the (dst, anchor) rollup is one map-side-
    combinable groupBy; the top-k window partitions by dst over that
    aggregate (cardinality |hosts|×|distinct anchors per host|, already
    reduced), never over the edge table; host-name resolution joins
    |hosts|-sized tables (broadcast)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    hosts, n_hosts, _ = _derived_graph(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    anchors = d.select(
        F.pmod(F.hash("doc_id"), F.lit(n_hosts)).alias("dst"),
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 3)).alias(
            "anchor"
        ),
    )
    agg = anchors.groupBy("dst", "anchor").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("dst").orderBy(F.desc("cnt"), "anchor")
    return (
        agg.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _G7_TOPK)
        .join(_maybe_broadcast(hosts, n_hosts), F.col("dst") == F.col("host_id"))
        .select(F.col("source").alias("host"), "anchor", "cnt", "rk")
    )


# ---------------------------------------------------------------------------
# g8 — TrustRank (biased-teleport PageRank for link-spam demotion)
# ---------------------------------------------------------------------------

_G8_SEED_MOD = 5  # every 5th host id is a trusted seed (stand-in whitelist)


def _g8_oracle() -> str:
    iters = []
    for k in range(_ITERS):
        iters.append(f"""
  t{k + 1} AS (
    SELECT hs.host_id,
           (CASE WHEN hs.host_id % {_G8_SEED_MOD} = 0
                 THEN ({_DAMP_DEN - _DAMP_NUM} * {_SCALE})
                      // ({_DAMP_DEN} * sn.s)
                 ELSE 0 END
            + ({_DAMP_NUM} * COALESCE(i.inc, 0)) // {_DAMP_DEN})::BIGINT
             AS trust
    FROM hosts hs CROSS JOIN sn
    LEFT JOIN (
      SELECT e.dst AS host_id, SUM(t.trust // e.deg) AS inc
      FROM edges e JOIN t{k} t ON t.host_id = e.src
      GROUP BY e.dst
    ) i ON i.host_id = hs.host_id
  )""")
    return f"""
WITH {_GRAPH_CTES},
edges AS (
  SELECT src, dst, COUNT(*) OVER (PARTITION BY src) AS deg FROM edges0
),
sn AS (SELECT COUNT(*) AS s FROM hosts WHERE host_id % {_G8_SEED_MOD} = 0),
t0 AS (
  SELECT host_id,
         (CASE WHEN host_id % {_G8_SEED_MOD} = 0 THEN {_SCALE} // sn.s
               ELSE 0 END)::BIGINT AS trust
  FROM hosts CROSS JOIN sn
),{",".join(iters)}
SELECT hs.source, t.trust,
       hs.host_id % {_G8_SEED_MOD} = 0 AS is_seed,
       DENSE_RANK() OVER (ORDER BY t.trust DESC) AS rk
FROM t{_ITERS} t JOIN hosts hs ON hs.host_id = t.host_id
"""


@query("g8_trustrank", _g8_oracle())
def g8_trustrank(spark, sf_dir: str):
    """TrustRank over the derived host graph (Gyöngyi, Garcia-Molina &
    Pedersen, VLDB 2004): PageRank with the teleport vector restricted to
    a trusted seed whitelist, so trust attenuates with link distance from
    vetted hosts and link-spam clusters — unreachable from seeds except
    through spam links — rank near zero. The crawl frontier demotes (or
    budget-caps via c8) hosts whose TrustRank falls far below their g1
    PageRank. Seeds here are every {_G8_SEED_MOD}th host id, a
    deterministic stand-in for a curated whitelist.

    Same fixed-point bigint discipline as g1 (SCALE 10^12, floor division,
    {_ITERS} iterations, damping 85/100): order-invariant integer sums →
    bit-identical Spark ⇄ DuckDB. Scale shape is g1's, including the
    host-count gate: broadcast the trust vector below it, co-partitioned
    pinned-edges Pregel joins above it (one score exchange per iteration);
    the only new term (the seed indicator) is row-local arithmetic on
    host_id."""
    from pyspark.sql import functions as F

    hosts, n_hosts, edges = _derived_graph(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    big = n_hosts > _BCAST_HOSTS_MAX
    if big:
        # same Pregel layout as g1 (persist pins the partitioning that
        # localCheckpoint would lose) — see g1_host_pagerank
        P = _shuffle_parts(spark)
        edges = edges.join(deg.hint("shuffle_hash"), "src").repartition(
            P, "src"
        ).persist()
        edges.count()
        host_ids = hosts.select("host_id").repartition(P, "host_id").persist()
        host_ids.count()
    else:
        edges = edges.join(F.broadcast(deg), "src")
        host_ids = hosts.select("host_id")

    n_seeds = (n_hosts + _G8_SEED_MOD - 1) // _G8_SEED_MOD
    seed = F.col("host_id") % _G8_SEED_MOD == 0
    base = (
        F.when(
            seed,
            F.lit(
                ((_DAMP_DEN - _DAMP_NUM) * _SCALE) // (_DAMP_DEN * n_seeds)
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    trust = host_ids.select(
        "host_id",
        F.when(seed, F.lit(_SCALE // n_seeds))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("trust"),
    )
    for _ in range(_ITERS):
        t = trust.hint("shuffle_hash") if big else F.broadcast(trust)
        incoming = (
            edges.join(t, edges["src"] == t["host_id"])
            .select(
                edges["dst"].alias("host_id"),
                F.expr("trust div deg").alias("c"),
            )
            .groupBy("host_id")
            .agg(F.sum("c").alias("inc"))
        )
        inc = incoming.hint("shuffle_hash") if big else incoming
        trust = (
            host_ids.join(inc, "host_id", "left")
            .select(
                "host_id",
                (
                    base
                    + F.expr(
                        f"({_DAMP_NUM} * coalesce(inc, 0L)) div {_DAMP_DEN}"
                    )
                ).alias("trust"),
            )
        )

    out = trust.join(_maybe_broadcast(hosts, n_hosts), "host_id").select(
        "source", "trust", seed.alias("is_seed")
    )
    return _dense_rank_desc(out, "trust", "rk").select(
        "source", "trust", "is_seed", "rk"
    )


# ---------------------------------------------------------------------------
# g9 — reciprocal (mutual) host links: link-farm signal
# ---------------------------------------------------------------------------

_G9_ORACLE = f"""
WITH {_GRAPH_CTES},
pairs AS (
  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
         CAST(sum(CASE WHEN src < dst THEN 1 ELSE 0 END) AS BIGINT) AS n_fwd,
         CAST(sum(CASE WHEN src > dst THEN 1 ELSE 0 END) AS BIGINT) AS n_rev
  FROM edges0 WHERE src <> dst
  GROUP BY 1, 2
)
SELECT ha.source AS host_a, hb.source AS host_b, p.n_fwd, p.n_rev
FROM pairs p
JOIN hosts ha ON ha.host_id = p.a
JOIN hosts hb ON hb.host_id = p.b
WHERE p.n_fwd >= 1 AND p.n_rev >= 1
"""


@query("g9_reciprocal_links", _G9_ORACLE)
def g9_reciprocal_links(spark, sf_dir: str):
    """Reciprocal host links over the derived graph: unordered host pairs
    that link each other in BOTH directions, with per-direction edge
    counts — the mutual-link signature link farms and reciprocal-exchange
    schemes leave in a web graph (the symmetric counterpart of g8's
    trust attenuation; pairs with high mutual counts and low TrustRank
    are the classic demotion candidates).

    Scale shape (10^10 edges): NO self-join — each directed edge maps
    row-locally to its canonical unordered pair carrying a direction
    flag, and ONE map-side-combinable groupBy(pair) sums both directions
    at once (a hot pair collapses in partials). The name resolution joins
    the |hosts|-sized table twice, broadcast below the host-count gate.
    An edges⨝edges formulation would shuffle the edge table twice and
    explode on hot pairs; this shape touches each edge exactly once."""
    from pyspark.sql import functions as F

    hosts, n_hosts, edges0 = _derived_graph(spark, sf_dir)
    pairs = (
        edges0.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.when(F.col("src") < F.col("dst"), 1).otherwise(0).alias("fwd"),
            F.when(F.col("src") > F.col("dst"), 1).otherwise(0).alias("rev"),
        )
        .groupBy("a", "b")
        .agg(
            F.sum("fwd").alias("n_fwd"),
            F.sum("rev").alias("n_rev"),
        )
        .filter((F.col("n_fwd") >= 1) & (F.col("n_rev") >= 1))
    )
    ha = hosts.select(
        F.col("host_id").alias("a"), F.col("source").alias("host_a")
    )
    hb = hosts.select(
        F.col("host_id").alias("b"), F.col("source").alias("host_b")
    )
    return (
        pairs.join(_maybe_broadcast(ha, n_hosts), "a")
        .join(_maybe_broadcast(hb, n_hosts), "b")
        .select("host_a", "host_b", "n_fwd", "n_rev")
    )


# ---------------------------------------------------------------------------
# g10 — mirror-host detection: Jaccard over out-neighbor sets
# ---------------------------------------------------------------------------

_G10_THRESH = 0.5

_G10_ORACLE = f"""
WITH {_GRAPH_CTES},
out_all AS (SELECT DISTINCT src, dst FROM edges0),
hot AS (
  SELECT dst FROM out_all, hn GROUP BY dst, h
  HAVING count(*) > greatest(5.0, 0.5 * h)
),
out_nbrs AS (
  SELECT * FROM out_all WHERE dst NOT IN (SELECT dst FROM hot)
),
sizes AS (SELECT src, count(*) AS deg FROM out_nbrs GROUP BY src),
pairs AS (
  SELECT a.src AS host_x, b.src AS host_y, count(*) AS inter
  FROM out_nbrs a JOIN out_nbrs b
    ON a.dst = b.dst AND a.src < b.src
  GROUP BY a.src, b.src
),
scored AS (
  SELECT p.host_x, p.host_y, p.inter, sx.deg AS dx, sy.deg AS dy
  FROM pairs p
  JOIN sizes sx ON sx.src = p.host_x
  JOIN sizes sy ON sy.src = p.host_y
)
SELECT hx.source AS host_a, hy.source AS host_b,
       floor(inter * 10000.0 / (dx + dy - inter) + 0.5) / 10000.0 AS jaccard
FROM scored
JOIN hosts hx ON hx.host_id = scored.host_x
JOIN hosts hy ON hy.host_id = scored.host_y
WHERE inter * 1.0 / (dx + dy - inter) >= {_G10_THRESH}
"""


@query("g10_mirror_hosts", _G10_ORACLE)
def g10_mirror_hosts(spark, sf_dir: str):
    """Mirror-host detection over the derived link graph: host pairs whose
    distinct out-neighbor sets overlap with Jaccard ≥ 0.5 — the
    link-structure signal for mirrors / syndication networks / parked-
    domain farms (Bharat & Broder, WWW'99 "mirror detection on the web"
    use exactly out-link + shingle overlap). Content-side near-dup (d3)
    finds copied PAGES; g10 finds copied SITES, which a frontier should
    collapse to one representative before spending fetch budget.

    Scale shape (10^8 hosts): the pair join is keyed on the shared
    out-neighbor (candidate volume Σ deg(dst)² over the DISTINCT edge
    set, never hosts²), and the d2 df-cap is APPLIED, not just cited:
    dsts linked by > max(5, 50% of hosts) are dropped before the join
    (broadcast anti-join), with degrees computed on the capped set so
    numerator and denominator agree. At full scale the same sign-LSH
    banding that de-quadraticizes d5 applies to out-neighbor
    bit-vectors.
    Intersections are integers; Jaccard is the 4-dp deterministic
    rational rounding shared with the dedup family."""
    from pyspark.sql import functions as F

    from spider_spark.operators.dedup import _jac4

    hosts, n_hosts, edges0 = _derived_graph(spark, sf_dir)
    out_all = edges0.select("src", "dst").distinct()
    # d2's df-cap discipline on the join key: a dst linked by more than
    # max(5, 50% of hosts) is ubiquitous (CDN/portal-grade) — it carries
    # no mirror signal and would make its pair bucket quadratic. Sizes
    # are computed AFTER the cap so inter and deg use the same set.
    cap = max(5.0, 0.5 * n_hosts)
    hot = (
        out_all.groupBy("dst")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > cap)
        .select("dst")
    )
    out_nbrs = out_all.join(F.broadcast(hot), "dst", "left_anti")
    sizes = out_nbrs.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    a = out_nbrs.alias("a")
    b = out_nbrs.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.dst") == F.col("b.dst"))
            & (F.col("a.src") < F.col("b.src")),
        )
        .groupBy(F.col("a.src").alias("host_x"), F.col("b.src").alias("host_y"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sx = sizes.select(F.col("src").alias("host_x"), F.col("deg").alias("dx"))
    sy = sizes.select(F.col("src").alias("host_y"), F.col("deg").alias("dy"))
    scored = pairs.join(sx, "host_x").join(sy, "host_y")
    union = F.col("dx") + F.col("dy") - F.col("inter")
    jac4 = _jac4(F.col("inter"), union)
    hx = hosts.select(
        F.col("host_id").alias("host_x"), F.col("source").alias("host_a")
    )
    hy = hosts.select(
        F.col("host_id").alias("host_y"), F.col("source").alias("host_b")
    )
    return (
        scored.filter(F.col("inter") * 1.0 / union >= _G10_THRESH)
        .join(_maybe_broadcast(hx, n_hosts), "host_x")
        .join(_maybe_broadcast(hy, n_hosts), "host_y")
        .select("host_a", "host_b", jac4.alias("jaccard"))
    )

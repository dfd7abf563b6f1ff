"""Link-based frontier prioritization — fixed-iteration PageRank.

The crawl plan ranks candidates by (seed_index, depth) — provenance order.
A web-scale frontier wants link evidence too: pages many crawled pages point
at should be fetched before deep orphans. This is the standard PageRank
recurrence run a FIXED number of iterations (not to convergence), which is
(a) how crawl schedulers actually use it (fresh scores per scheduling epoch
over a changing graph; convergence buys nothing), and (b) what makes the
computation exactly expressible in unrolled SQL for the DuckDB oracle.

Cross-engine exactness (the float parity recipe, see CLAUDE.md): per-row
double arithmetic (rank/out_degree, 0.15 + 0.85*s) is bit-identical across
engines; only the per-destination SUM is order-sensitive, so summands are
cast to DECIMAL(28,12) (exact, associative) and the sum cast back to
double. Ranks therefore stay bit-identical through every iteration, and the
final output is rounded once.

Scale shape per iteration: one shuffle joining ranks onto edges by src
(co-partitioned with the out-degree join on the same key, shared by AQE),
one map-side-combined groupBy on dst. Rank and degree tables are O(nodes);
edges stream. Dangling mass (nodes with no outlinks) is dropped, not
redistributed — documented deviation from the normalized eigenvector
formulation; ordering, which is what a scheduler consumes, is preserved for
the fixed-iteration use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DAMPING = 0.85


def link_rank(
    edges: DataFrame, nodes: DataFrame, n_iter: int = 3, damping: float = DAMPING
) -> DataFrame:
    """(node, rank) after ``n_iter`` synchronous PageRank iterations from
    rank0 = 1.0. ``edges``: (src, dst), self-loops excluded by the caller;
    ``nodes``: (node) — the full universe, so sinks keep rows."""
    deg = edges.groupBy("src").agg(F.count("*").alias("__d"))
    ranks = nodes.select("node", F.lit(1.0).alias("r"))
    for _ in range(n_iter):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select("dst", (F.col("r") / F.col("__d")).alias("c"))
        )
        sums = contrib.groupBy("dst").agg(
            F.sum(F.col("c").cast("decimal(28,12)")).cast("double").alias("s")
        )
        ranks = (
            nodes.join(sums.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return ranks.select("node", F.round(F.col("r"), 6).alias("rank"))


def hits_rank(edges: DataFrame, nodes: DataFrame, n_iter: int = 2) -> DataFrame:
    """(node, hub, authority) after ``n_iter`` synchronous HITS iterations
    (Kleinberg) — the complement of PageRank for crawl scheduling: hub
    scores find index/listing pages worth re-crawling for DISCOVERY,
    authority scores find content pages worth fetching for QUALITY.

    Numerical contract: per-iteration normalization is deliberately
    DEFERRED.  Starting from h0 = 1.0, every intermediate hub/authority
    value is an integral sum of integral values, so DECIMAL(28,12)-cast
    sums are exact and fold-order independent (float parity recipe,
    CLAUDE.md) with zero rounding anywhere in the recurrence.  Scores are
    scaled once at the end by the exact max (division of exact integers is
    a single correctly-rounded double op — bit-identical across engines);
    a positive scalar preserves the ordering a scheduler consumes, which is
    why textbook per-iteration L2 normalization (there to avoid overflow at
    large iteration counts, irrelevant for fixed small ``n_iter``; growth
    is <= (max_degree)^(2*n_iter), far inside DECIMAL(28,12)'s 16 integer
    digits for any real host graph) can be dropped.

    Scale shape per iteration: two edge->score equi-joins, each feeding one
    map-side-combined groupBy; score tables are O(nodes), edges stream.
    The final max is a 1-row aggregate broadcast — never a funnel over the
    node table.
    """
    a = nodes.select("node", F.lit(1.0).alias("a"))
    h = nodes.select("node", F.lit(1.0).alias("h"))
    for _ in range(n_iter):
        a_sum = (
            edges.join(h.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("h").cast("decimal(28,12)")).cast("double").alias("s"))
        )
        a = nodes.join(a_sum.withColumnRenamed("dst", "node"), "node", "left").select(
            "node", F.coalesce(F.col("s"), F.lit(0.0)).alias("a")
        )
        h_sum = (
            edges.join(a.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum(F.col("a").cast("decimal(28,12)")).cast("double").alias("s"))
        )
        h = nodes.join(h_sum.withColumnRenamed("src", "node"), "node", "left").select(
            "node", F.coalesce(F.col("s"), F.lit(0.0)).alias("h")
        )
    scores = a.join(h, "node")
    mx = scores.agg(
        F.max("h").alias("__hm"), F.max("a").alias("__am")
    )
    return scores.crossJoin(F.broadcast(mx)).select(
        "node",
        F.round(F.col("h") / F.greatest(F.col("__hm"), F.lit(1.0)), 6).alias("hub"),
        F.round(F.col("a") / F.greatest(F.col("__am"), F.lit(1.0)), 6).alias(
            "authority"
        ),
    )


def hits_rank_sql(edges_cte: str, nodes_cte: str, n_iter: int = 2) -> str:
    """The identical HITS recurrence unrolled as SQL CTE layers (oracle)."""
    parts = [
        f"edges as ({edges_cte})",
        f"nodes as ({nodes_cte})",
        "a0 as (select node, cast(1.0 as double) as a from nodes)",
        "h0 as (select node, cast(1.0 as double) as h from nodes)",
    ]
    for i in range(n_iter):
        parts.append(
            f"as{i + 1} as (select e.dst as node,"
            f" cast(sum(cast(h.h as decimal(28,12))) as double) as s"
            f" from edges e join h{i} h on e.src = h.node group by e.dst)"
        )
        parts.append(
            f"a{i + 1} as (select n.node,"
            f" coalesce(s, cast(0.0 as double)) as a"
            f" from nodes n left join as{i + 1} using (node))"
        )
        parts.append(
            f"hs{i + 1} as (select e.src as node,"
            f" cast(sum(cast(a.a as decimal(28,12))) as double) as s"
            f" from edges e join a{i + 1} a on e.dst = a.node group by e.src)"
        )
        parts.append(
            f"h{i + 1} as (select n.node,"
            f" coalesce(s, cast(0.0 as double)) as h"
            f" from nodes n left join hs{i + 1} using (node))"
        )
    parts.append(
        f"sc as (select a.node, h.h, a.a from a{n_iter} a join h{n_iter} h"
        f" using (node))"
    )
    parts.append(
        "mx as (select max(h) as hm, max(a) as am from sc)"
    )
    return (
        "with " + ",\n".join(parts)
        + "\nselect node, round(h / greatest(hm, 1.0), 6) as hub,"
        + " round(a / greatest(am, 1.0), 6) as authority from sc, mx"
    )


def link_rank_sql(
    edges_cte: str, nodes_cte: str, n_iter: int = 3, damping: float = DAMPING
) -> str:
    """The identical recurrence, unrolled as SQL CTE layers for the oracle.
    ``edges_cte`` / ``nodes_cte`` are CTE bodies yielding (src, dst) and
    (node)."""
    base = 1.0 - damping
    parts = [
        f"edges as ({edges_cte})",
        f"nodes as ({nodes_cte})",
        "deg as (select src, count(*) as d from edges group by src)",
        "r0 as (select node, cast(1.0 as double) as r from nodes)",
    ]
    for i in range(n_iter):
        parts.append(
            f"c{i + 1} as (select e.dst as node,"
            f" cast(sum(cast(r.r / deg.d as decimal(28,12))) as double) as s"
            f" from edges e join r{i} r on e.src = r.node"
            f" join deg on deg.src = e.src group by e.dst)"
        )
        parts.append(
            f"r{i + 1} as (select n.node,"
            f" cast({base} as double) + cast({damping} as double)"
            f" * coalesce(c{i + 1}.s, cast(0.0 as double)) as r"
            f" from nodes n left join c{i + 1} using (node))"
        )
    return (
        "with " + ",\n".join(parts)
        + f"\nselect node, round(r, 6) as rank from r{n_iter}"
    )


def reciprocity(edges: DataFrame) -> DataFrame:
    """Per-source link reciprocity — (src, n_out, n_recip, recip_rate).

    Crawl-graph health signal: a host whose outlinks are heavily
    reciprocated is inside a link farm / mutual-citation cluster, while
    genuine discovery edges are mostly one-way — schedulers down-weight
    reciprocal neighborhoods when spending discovery budget (the same
    motivation as the reference's per-venue fan-out caps,
    reference crawler.py:105-139 fetch fan-out).

    Scale shape: ONE distinct over (src, dst) — a map-side-combined
    shuffle; the reverse orientation is an equi self-join on the SAME
    (src, dst) shuffle key (AQE co-partitions both sides; no broadcast
    hint — the edge table is corpus-sized, the r3 ngram_jaccard lesson);
    then one map-side-combined groupBy on src. The deduped edge table is
    persisted through the tracked-cache registry so the self-join's two
    sides read cache instead of re-running the upstream synthesis (the
    r3 "self-join embeds the upstream plan" lesson).

    Float parity: n_recip / n_out is ONE correctly-rounded double
    division per output row (bit-identical across engines), rounded once.
    """
    from ..caching import track_persist

    e = track_persist(edges.select("src", "dst").distinct())
    rev = e.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        F.lit(1).alias("__m"),
    )
    tagged = e.join(rev, ["src", "dst"], "left")
    got = F.sum(F.coalesce(F.col("__m"), F.lit(0)))
    return tagged.groupBy("src").agg(
        F.count("*").cast("long").alias("n_out"),
        got.cast("long").alias("n_recip"),
        F.round(
            got.cast("double") / F.count("*").cast("double"), 6
        ).alias("recip_rate"),
    )


def reciprocity_sql(edges_cte: str) -> str:
    """Oracle twin: identical dedup → reverse self-join → rollup."""
    return f"""
with raw as ({edges_cte}),
e as (select distinct src, dst from raw),
t as (
  select e.src, e.dst,
         case when x.src is not null then 1 else 0 end as m
  from e left join e x on e.src = x.dst and e.dst = x.src
)
select src, count(*)::BIGINT as n_out, sum(m)::BIGINT as n_recip,
       round(sum(m)::DOUBLE / count(*)::DOUBLE, 6) as recip_rate
from t group by src
"""


def bfs_depth(edges: DataFrame, seeds: DataFrame, max_depth: int = 8) -> DataFrame:
    """Seed-set BFS hop distance — (node, depth) for every node reachable
    from ``seeds`` within ``max_depth`` hops; depth = the crawler's
    discovery depth (the reference walks venue -> submissions -> replies
    level-by-level, reference crawler.py fetch loop — this is that
    traversal as a distributed frontier expansion).

    Scale shape: classic frontier-only iteration (the Pregel superstep).
    Each level is ONE equi-join of the CURRENT frontier (small) onto edges
    by src plus one anti-join against the accumulated distance table —
    never a whole-graph recomputation. Every level is materialized with an
    EAGER ``localCheckpoint`` (r5): persist alone caches data but keeps
    the plan, so level d's analysis re-embedded level d-1's whole union
    tree and Catalyst re-analysis went superlinear in depth (the r4
    diameter lesson, now fixed at the operator); the checkpoint makes
    every level a flat leaf, the accumulated table a union of flat leaves,
    and the empty-frontier probe a near-free ``take(1)`` over cached
    blocks. At cluster scale this is the GraphX/Pregel per-superstep
    materialization (swap ``checkpoint()`` to reliable storage if
    executor loss must be survivable mid-traversal). Bounded diameter =>
    bounded rounds regardless of graph size.

    Cleanup: the per-level ``localCheckpoint`` blocks are NOT tracked by the
    ``track_persist`` registry, so ``release_persisted`` does not free them.
    Spark's ContextCleaner removes them once the returned DataFrame and its
    levels are garbage-collected on the driver.
    """
    from ..caching import track_persist

    e = track_persist(edges.select("src", "dst").distinct())
    dist = (
        seeds.select("node").distinct().withColumn("depth", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    for d in range(1, max_depth + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = (
            nxt.join(dist, "node", "left_anti")
            .withColumn("depth", F.lit(d))
            .localCheckpoint(eager=True)
        )
        if not new.take(1):
            break
        dist = dist.unionByName(new)
        frontier = new
    return dist.select(
        F.col("node").cast("long").alias("node"),
        F.col("depth").cast("long").alias("depth"),
    )


def bfs_depth_sql(edges_cte: str, seeds_cte: str, max_depth: int = 8) -> str:
    """Oracle twin: recursive CTE bounded by ``max_depth``; the recursive
    UNION (distinct) keeps the walk table at O(nodes * max_depth) rows even
    on cyclic graphs, and MIN(depth) recovers first-reach = BFS depth."""
    return f"""
with recursive raw as ({edges_cte}),
e as (select distinct src, dst from raw),
s as ({seeds_cte}),
w(node, depth) as (
  select node, 0 as depth from (select distinct node from s)
  union
  select e.dst, w.depth + 1 from w join e on e.src = w.node
  where w.depth < {max_depth}
)
select node::BIGINT as node, min(depth)::BIGINT as depth
from w group by node
"""


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation — (node, n_tri) for every node in at
    least one triangle. Link-farm / mutual-citation density signal: a
    crawl neighborhood whose triangle density is high is a clique-shaped
    cluster (the same health read as ``reciprocity``, one order up).

    Scale shape: the degree-ordered "node iterator" algorithm. Edges are
    deduped undirected (canonical lo/hi), then ORIENTED from the
    (degree, id)-smaller endpoint to the larger — the standard trick that
    bounds every node's oriented out-degree by O(sqrt(m)) so the wedge
    self-join never explodes on skewed (power-law) web graphs; id-only
    orientation would leave hub wedges quadratic. Wedges = one equi
    self-join of the oriented table on the center u; closing edges = one
    more equi-join on (v, w). The oriented table is persisted through the
    tracked-cache registry (three readers). No broadcast hints — edge
    tables are corpus-sized (the r3 ngram_jaccard lesson).
    """
    from ..caching import track_persist

    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    votes = und.select(
        F.explode(F.array(F.col("a").alias("n"), F.col("b").alias("n"))).alias(
            "node"
        )
    )
    deg = votes.groupBy("node").agg(F.count("*").alias("deg"))
    withdeg = (
        und.join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = track_persist(
        withdeg.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(a_first, F.col("da")).otherwise(F.col("db")).alias("du"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
        )
    )
    e1 = oriented.select(
        F.col("u"), F.col("v").alias("v1"), F.col("dv").alias("d1")
    )
    e2 = oriented.select(
        F.col("u"), F.col("v").alias("v2"), F.col("dv").alias("d2")
    )
    wedges = e1.join(e2, "u").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    closing = oriented.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    tris = wedges.join(closing, ["v1", "v2"]).select("u", "v1", "v2")
    pernode = tris.select(
        F.explode(F.array("u", "v1", "v2")).alias("node")
    ).groupBy("node").agg(F.count("*").cast("long").alias("n_tri"))
    return pernode.select(F.col("node").cast("long").alias("node"), "n_tri")


def triangle_counts_sql(edges_cte: str) -> str:
    """Oracle twin: identical canonicalize -> degree-orient -> wedge join ->
    closing-edge join -> explode rollup."""
    return f"""
with raw as ({edges_cte}),
und as (
  select distinct least(src, dst) as a, greatest(src, dst) as b
  from raw where src <> dst
),
deg as (
  select node, count(*) as deg from (
    select unnest([a, b]) as node from und
  ) group by node
),
wd as (
  select u.a, u.b, da.deg as da, db.deg as db
  from und u join deg da on u.a = da.node join deg db on u.b = db.node
),
oriented as (
  select case when da < db or (da = db and a < b) then a else b end as u,
         case when da < db or (da = db and a < b) then b else a end as v,
         case when da < db or (da = db and a < b) then db else da end as dv
  from wd
),
wedges as (
  select e1.u, e1.v as v1, e2.v as v2
  from oriented e1 join oriented e2 on e1.u = e2.u
  where e1.dv < e2.dv or (e1.dv = e2.dv and e1.v < e2.v)
),
tris as (
  select w.u, w.v1, w.v2
  from wedges w join oriented c on c.u = w.v1 and c.v = w.v2
)
select node::BIGINT as node, count(*)::BIGINT as n_tri
from (select unnest([u, v1, v2]) as node from tris)
group by node
"""


def label_propagation(
    edges: DataFrame, nodes: DataFrame, n_iter: int = 2
) -> DataFrame:
    """Synchronous label propagation — (node, label) after ``n_iter``
    rounds of each node adopting its neighbors' most common label (ties
    -> smallest label; isolated nodes keep their own). Community
    detection for link neighborhoods: a crawl cluster that converges to
    one label fast is a mutually-linked farm (the community-level read
    of ``reciprocity``/``triangle_counts``).

    Deterministic by construction — integer vote counts, explicit
    (count desc, label asc) tie-break — so the unrolled-SQL oracle
    matches exactly; the usual LPA order-dependence is avoided by being
    synchronous with a fixed iteration count (the same
    fixed-iterations-not-convergence contract as link_rank/hits_rank).

    Scale shape per round: the symmetric vote table comes from ONE
    explode per edge (never a union of two selects — the r3 lesson), one
    map-side-combined groupBy counts (node, label) votes, and the argmax
    window partitions by node over at most degree-many label rows. Labels
    are persisted each round through the tracked-cache registry (two
    consumers: votes and the isolated-node fallback).
    """
    from ..caching import track_persist

    sym = edges.filter(F.col("src") != F.col("dst")).select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("node"), F.col("dst").alias("nbr")),
                F.struct(F.col("dst").alias("node"), F.col("src").alias("nbr")),
            )
        ).alias("e")
    ).select("e.*").distinct()
    sym = track_persist(sym)
    labels = track_persist(nodes.select("node", F.col("node").alias("label")))
    for _ in range(n_iter):
        votes = sym.join(
            labels.withColumnRenamed("node", "nbr"), "nbr"
        ).groupBy("node", "label").agg(F.count("*").alias("__n"))
        w = Window.partitionBy("node").orderBy(F.desc("__n"), F.asc("label"))
        adopted = (
            votes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("node", F.col("label").alias("__new"))
        )
        labels = track_persist(
            labels.join(adopted, "node", "left").select(
                "node", F.coalesce("__new", "label").alias("label")
            )
        )
    return labels.select(
        F.col("node").cast("long").alias("node"),
        F.col("label").cast("long").alias("label"),
    )


def label_propagation_sql(
    edges_cte: str, nodes_cte: str, n_iter: int = 2
) -> str:
    """Oracle twin: the same synchronous rounds unrolled as CTE layers."""
    parts = [
        f"raw as ({edges_cte})",
        "sym as (select distinct node, nbr from ("
        "  select src as node, dst as nbr from raw where src <> dst"
        "  union all"
        "  select dst as node, src as nbr from raw where src <> dst))",
        f"l0 as (select node, node as label from ({nodes_cte}))",
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f"""v{i} as (
  select s.node, l.label, count(*) as n
  from sym s join l{i - 1} l on l.node = s.nbr
  group by s.node, l.label
), a{i} as (
  select node, label from (
    select node, label,
           row_number() over (
             partition by node order by n desc, label asc
           ) as rn
    from v{i}
  ) where rn = 1
), l{i} as (
  select p.node, coalesce(a.label, p.label) as label
  from l{i - 1} p left join a{i} a using (node)
)"""
        )
    return (
        "with " + ",\n".join(parts)
        + f"\nselect node::BIGINT as node, label::BIGINT as label from l{n_iter}"
    )


def link_rank_personalized(
    edges: DataFrame,
    nodes: DataFrame,
    seeds: DataFrame,
    n_iter: int = 3,
    damping: float = DAMPING,
) -> DataFrame:
    """Personalized PageRank — the teleport mass lands ONLY on the seed
    set, so rank measures weighted link proximity to the seeds: the
    focused-crawl complement of bfs_depth's unweighted hop count (a page
    two hops away through many paths outranks one two hops away through
    one path). Same fixed-iteration, decimal-exact contract as
    link_rank; r0 = 1.0 on seeds, 0.0 elsewhere, update =
    (1-d)*seed_ind + d*sum(contribs).

    Scale shape per iteration: identical to link_rank (one src join, one
    map-side-combined dst groupBy) plus a broadcast-size seed indicator
    joined once up front and carried as a column.
    """
    deg = edges.groupBy("src").agg(F.count("*").alias("__d"))
    seeded = nodes.join(
        seeds.select("node").distinct().withColumn("__s", F.lit(1.0)),
        "node",
        "left",
    ).select("node", F.coalesce("__s", F.lit(0.0)).alias("seed_ind"))
    ranks = seeded.select("node", "seed_ind", F.col("seed_ind").alias("r"))
    for _ in range(n_iter):
        contrib = (
            edges.join(
                ranks.select(F.col("node").alias("src"), "r"), "src"
            )
            .join(deg, "src")
            .select("dst", (F.col("r") / F.col("__d")).alias("c"))
        )
        sums = contrib.groupBy("dst").agg(
            F.sum(F.col("c").cast("decimal(28,12)")).cast("double").alias("s")
        )
        ranks = (
            seeded.join(sums.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                "seed_ind",
                (
                    F.lit(1.0 - damping) * F.col("seed_ind")
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
        )
    # floor-truncate, never round: the decimal-exact recurrence parks
    # values ON rounding-tie digits (e.g. 0.0319345), where Spark's
    # shortest-repr HALF_UP and DuckDB's libm disagree by one output ulp;
    # floor of the (bit-identical) double product is tie-free.
    return ranks.select(
        F.col("node").cast("long").alias("node"),
        (F.floor(F.col("r") * F.lit(1000000.0)) / F.lit(1000000.0)).alias("rank"),
    )


def link_rank_personalized_sql(
    edges_cte: str, nodes_cte: str, seeds_cte: str,
    n_iter: int = 3, damping: float = DAMPING,
) -> str:
    """Oracle twin of the personalized recurrence, unrolled."""
    base = 1.0 - damping
    parts = [
        f"edges as ({edges_cte})",
        f"nodes as ({nodes_cte})",
        f"seedset as (select distinct node from ({seeds_cte}))",
        "deg as (select src, count(*) as d from edges group by src)",
        "seeded as (select n.node,"
        " case when s.node is null then cast(0.0 as double)"
        " else cast(1.0 as double) end as seed_ind"
        " from nodes n left join seedset s using (node))",
        "r0 as (select node, seed_ind, seed_ind as r from seeded)",
    ]
    for i in range(n_iter):
        parts.append(
            f"c{i + 1} as (select e.dst as node,"
            f" cast(sum(cast(r.r / deg.d as decimal(28,12))) as double) as s"
            f" from edges e join r{i} r on e.src = r.node"
            f" join deg on deg.src = e.src group by e.dst)"
        )
        parts.append(
            f"r{i + 1} as (select n.node, n.seed_ind,"
            f" cast({base} as double) * n.seed_ind + cast({damping} as double)"
            f" * coalesce(c{i + 1}.s, cast(0.0 as double)) as r"
            f" from seeded n left join c{i + 1} using (node))"
        )
    return (
        "with " + ",\n".join(parts)
        + f"\nselect node, floor(r * 1000000.0) / 1000000.0 as rank from r{n_iter}"
    )


def kcore(edges: DataFrame, k: int = 3, n_rounds: int = 4) -> DataFrame:
    """Bounded k-core peeling — (node, core_deg) for nodes surviving
    ``n_rounds`` of "drop every node with undirected degree < k".

    Crawl-graph use: the k-core is the densely-interlinked backbone
    (link farms and genuine hub clusters both live there); frontier
    schedulers treat core membership as a strong prior when apportioning
    discovery budget, the graph-level sibling of ``triangle_counts``.
    Fixed round count (not to-fixpoint) keeps the computation exactly
    unrollable for the SQL oracle — the same design choice as
    ``link_rank``; bounded-degeneracy web graphs settle in a few rounds.

    Scale shape per round: the symmetric edge table (persisted ONCE via
    the tracked-cache registry, single-explode emission — the r3 "union
    embeds the upstream plan" lesson) is filtered by TWO equi semi-joins
    against the alive set (O(survivors) rows, shuffle joins on the edge
    keys — no broadcast hint; the alive table is corpus-sized at web
    scale), then ONE map-side-combined groupBy(src). An early-exit count
    barrier per round stops as soon as peeling reaches a fixpoint.
    Degrees are integers; no float anywhere.
    """
    from ..caching import track_persist

    sym = track_persist(
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("a"), F.col("dst").alias("b")),
                    F.struct(F.col("dst").alias("a"), F.col("src").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
    )
    alive = track_persist(sym.select(F.col("a").alias("node")).distinct())
    n_alive = alive.count()
    deg = None
    for _ in range(n_rounds):
        deg = track_persist(
            sym.join(alive.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(alive.withColumnRenamed("node", "b"), "b", "left_semi")
            .groupBy(F.col("a").alias("node"))
            .agg(F.count("*").alias("core_deg"))
        )
        alive = track_persist(deg.filter(F.col("core_deg") >= k).select("node"))
        n_next = alive.count()
        if n_next == n_alive:
            break
        n_alive = n_next
    return deg.filter(F.col("core_deg") >= k).select(
        F.col("node").cast("long").alias("node"),
        F.col("core_deg").cast("long").alias("core_deg"),
    )


def kcore_sql(edges_cte: str, k: int = 3, n_rounds: int = 4) -> str:
    """Oracle twin: the peeling recurrence unrolled ``n_rounds`` times.
    No early exit — extra rounds past the fixpoint are identity, so the
    unrolled form matches the early-exiting Spark loop exactly."""
    parts = [
        f"raw as ({edges_cte})",
        "sym as (select distinct a, b from ("
        "select src as a, dst as b from raw where src <> dst"
        " union all select dst as a, src as b from raw where src <> dst))",
        "a0 as (select distinct a as node from sym)",
    ]
    for i in range(n_rounds):
        parts.append(
            f"d{i + 1} as (select s.a as node, count(*) as core_deg from sym s"
            f" join a{i} x on s.a = x.node join a{i} y on s.b = y.node"
            f" group by s.a)"
        )
        parts.append(
            f"a{i + 1} as (select node from d{i + 1} where core_deg >= {k})"
        )
    return (
        "with " + ",\n".join(parts)
        + f"\nselect node::BIGINT as node, core_deg::BIGINT as core_deg"
        f" from d{n_rounds} where core_deg >= {k}"
    )


def assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity — ONE row (n_endpoints, r_assort): the Pearson
    correlation of (deg(a), deg(b)) over both orientations of every
    undirected edge. Positive r = hubs link hubs (citation cores);
    negative r = hub-and-spoke (typical web/crawl graphs) — a one-number
    health read schedulers use to pick between depth- and breadth-biased
    budgets.

    Scale shape: symmetric distinct edge table persisted once
    (single-explode), ONE groupBy for degrees, degrees attached to both
    endpoints by two shuffle equi-joins on the existing keys (no
    broadcast — the degree table is O(nodes)), then a single global
    aggregate with map-side partials.

    Float parity recipe: every moment (S1=sum x, Sxy, Sxx, ...) is an
    INTEGER sum accumulated in DECIMAL(38,0) — exact and associative, so
    shuffle order cannot perturb it; the six exact sums convert to
    DOUBLE (exact below 2^53) and the Pearson formula is then pure
    per-value IEEE double arithmetic + one sqrt (correctly rounded by
    IEEE-754, cross-engine safe — unlike ln, see CLAUDE.md), and the
    result is floor-truncated (tie-digit round() trap)."""
    from ..caching import track_persist

    sym = track_persist(
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("a"), F.col("dst").alias("b")),
                    F.struct(F.col("dst").alias("a"), F.col("src").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
    )
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count("*").alias("d")
    )
    joined = (
        sym.join(deg.select(F.col("node").alias("a"), F.col("d").alias("dx")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("dy")), "b")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = joined.agg(
        F.count("*").alias("m"),
        F.sum(dec(F.col("dx"))).alias("sx"),
        F.sum(dec(F.col("dy"))).alias("sy"),
        F.sum(dec(F.col("dx") * F.col("dy"))).alias("sxy"),
        F.sum(dec(F.col("dx") * F.col("dx"))).alias("sxx"),
        F.sum(dec(F.col("dy") * F.col("dy"))).alias("syy"),
    )
    m = F.col("m").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    num = m * sxy - sx * sy
    den = F.sqrt(m * sxx - sx * sx) * F.sqrt(m * syy - sy * sy)
    r = F.when(den > F.lit(0.0), num / den)
    return agg.select(
        F.col("m").cast("long").alias("n_endpoints"),
        (F.floor(r * F.lit(1000000.0)) / F.lit(1000000.0)).alias("r_assort"),
    )


def assortativity_sql(edges_cte: str) -> str:
    """Oracle twin: same exact integer moments, same double formula."""
    return f"""
with raw as ({edges_cte}),
sym as (select distinct a, b from (
  select src as a, dst as b from raw where src <> dst
  union all select dst as a, src as b from raw where src <> dst)),
deg as (select a as node, count(*) as d from sym group by a),
j as (
  select x.d as dx, y.d as dy
  from sym join deg x on sym.a = x.node join deg y on sym.b = y.node
),
agg as (
  select count(*)::BIGINT as m,
         sum(dx::DECIMAL(38,0)) as sx, sum(dy::DECIMAL(38,0)) as sy,
         sum((dx * dy)::DECIMAL(38,0)) as sxy,
         sum((dx * dx)::DECIMAL(38,0)) as sxx,
         sum((dy * dy)::DECIMAL(38,0)) as syy
  from j
)
select m as n_endpoints,
       floor(case when sqrt(m::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                       * sqrt(m::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0.0
             then (m::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                  / (sqrt(m::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                     * sqrt(m::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
             end * 1000000.0) / 1000000.0 as r_assort
from agg
"""


def clustering_coeff(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient — (node, deg, n_tri, coeff) for every
    node of undirected degree >= 2, coeff = 2*T / (d*(d-1)). The
    per-neighborhood density read that separates organic hub pages
    (low coeff: star-shaped) from link farms and mutual-citation rings
    (high coeff: clique-shaped); frontier schedulers demote high-coeff
    neighborhoods the same way trap detection demotes DUST paths.

    Scale shape: composes :func:`triangle_counts` (degree-oriented wedge
    join, O(sqrt(m)) out-degree bound) with ONE degree groupBy over the
    canonical undirected edge table; the triangle side joins back on node
    (left join — nodes in no triangle count 0). Integer counts
    throughout; ONE per-row double division, floor-truncated (tie-digit
    round() trap; 2*T and d*(d-1) are exact longs)."""
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    tri = triangle_counts(edges)
    coeff = (F.lit(2) * F.col("n_tri")).cast("double") / (
        F.col("deg") * (F.col("deg") - F.lit(1))
    ).cast("double")
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tri, "node", "left")
        .select(
            F.col("node").cast("long").alias("node"),
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
        )
        .select(
            "node",
            "deg",
            "n_tri",
            (F.floor(coeff * F.lit(1000000.0)) / F.lit(1000000.0)).alias(
                "coeff"
            ),
        )
    )


def clustering_coeff_sql(edges_cte: str) -> str:
    """Oracle twin: triangle_counts_sql nested as a CTE (DuckDB allows a
    nested WITH inside a CTE body; inner names shadow, outer names are
    suffixed to avoid collision)."""
    return f"""
with t as ({triangle_counts_sql(edges_cte)}),
raw2 as ({edges_cte}),
und2 as (
  select distinct least(src, dst) as a, greatest(src, dst) as b
  from raw2 where src <> dst
),
deg2 as (
  select node, count(*)::BIGINT as deg from (
    select unnest([a, b]) as node from und2
  ) group by node
)
select d.node::BIGINT as node, d.deg,
       coalesce(t.n_tri, 0)::BIGINT as n_tri,
       floor(((2 * coalesce(t.n_tri, 0))::DOUBLE
              / (d.deg * (d.deg - 1))::DOUBLE) * 1000000.0) / 1000000.0
         as coeff
from deg2 d left join t on d.node = t.node
where d.deg >= 2
"""


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community modularity decomposition — (label, n_nodes, e_intra,
    deg_sum, q_contrib): each community's additive term of Newman
    modularity Q = sum_c [ e_c/m - (d_c/(2m))^2 ] over the distinct
    undirected edge set. The community-quality audit that closes the
    label-propagation loop: a link farm shows up as a community whose
    q_contrib dwarfs its node share, while q_contrib ~ 0 communities are
    propagation noise safe to ignore when allocating crawl budget.

    Scale shape: undirected edge canonicalization (least/greatest +
    distinct) persisted once and read three times (total m, degrees,
    intra-community counts); degrees from ONE explode + groupBy; labels
    attach by shuffle equi-joins (the label table is O(nodes) — never
    broadcast); the single-row total m attaches via a constant-key
    broadcast join, not a nested-loop cross join.

    Float parity: every count is exact integer; the Q term is pure
    per-row double arithmetic (div/mul/sub — IEEE-identical across
    engines, CLAUDE.md float recipe) floor-truncated to 1e-6 (tie-digit
    round() trap).
    """
    from ..caching import track_persist

    und = track_persist(
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )
    deg = (
        und.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("node")),
                    F.struct(F.col("v").alias("node")),
                )
            ).alias("e")
        )
        .select("e.node")
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    lab = labels.select("node", "label")
    comm = (
        lab.join(deg, "node", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.coalesce(F.col("d"), F.lit(0))).alias("deg_sum"),
        )
    )
    intra = (
        und.join(lab.select(F.col("node").alias("u"), F.col("label").alias("lu")), "u")
        .join(lab.select(F.col("node").alias("v"), F.col("label").alias("lv")), "v")
        .filter(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("label"))
        .agg(F.count(F.lit(1)).alias("e_intra"))
    )
    tot = und.agg(F.count(F.lit(1)).alias("m")).withColumn("__k", F.lit(1))
    out = (
        comm.join(intra, "label", "left")
        .withColumn("__k", F.lit(1))
        .join(F.broadcast(tot), "__k")
    )
    ec = F.coalesce(F.col("e_intra"), F.lit(0)).cast("double")
    dc = F.col("deg_sum").cast("double")
    md = F.col("m").cast("double")
    half = dc / (F.lit(2.0) * md)
    q = ec / md - half * half
    return out.select(
        F.col("label").cast("long").alias("label"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.coalesce(F.col("e_intra"), F.lit(0)).cast("long").alias("e_intra"),
        F.col("deg_sum").cast("long").alias("deg_sum"),
        (F.floor(q * F.lit(1000000.0)) / F.lit(1000000.0)).alias("q_contrib"),
    )


def modularity_sql(edges_cte: str, labels_sql: str) -> str:
    """Oracle twin: same integer counts, same per-row double Q term.

    ``labels_sql`` may be a full ``WITH ... SELECT`` statement (nested
    WITH inside a CTE is legal in DuckDB — CLAUDE.md), so the
    label_propagation oracle composes directly.
    """
    return f"""
with raw as ({edges_cte}),
labels as ({labels_sql}),
und as (select distinct least(src, dst) as u, greatest(src, dst) as v
        from raw where src <> dst),
deg as (select node, count(*) as d from (
  select u as node from und union all select v as node from und
) group by node),
comm as (
  select l.label, count(*)::BIGINT as n_nodes,
         sum(coalesce(d.d, 0))::BIGINT as deg_sum
  from labels l left join deg d on l.node = d.node
  group by l.label
),
intra as (
  select lu.label, count(*)::BIGINT as e_intra
  from und
  join labels lu on und.u = lu.node
  join labels lv on und.v = lv.node
  where lu.label = lv.label
  group by lu.label
),
tot as (select count(*)::BIGINT as m from und)
select c.label::BIGINT as label, c.n_nodes,
       coalesce(i.e_intra, 0)::BIGINT as e_intra, c.deg_sum,
       floor((coalesce(i.e_intra, 0)::DOUBLE / t.m::DOUBLE
              - (c.deg_sum::DOUBLE / (2.0 * t.m::DOUBLE))
                * (c.deg_sum::DOUBLE / (2.0 * t.m::DOUBLE))) * 1000000.0)
         / 1000000.0 as q_contrib
from comm c left join intra i on c.label = i.label cross join tot t
"""


def cocitation(
    edges: DataFrame, cap: int = 20, min_common: int = 2
) -> DataFrame:
    """Co-citation similarity: pairs of source pages whose out-link sets
    overlap — the link-graph analog of n-gram Jaccard dedup (mirror/
    template/link-farm detection at the page level; two srcs that cite
    nearly the same set of dsts are usually the same nav template).

    Semantics are defined OVER THE CAPPED EDGE SET: dsts whose fan-in
    exceeds ``cap`` are dropped wholesale before anything else (a
    super-popular dst co-cited by everything carries no similarity
    signal — the stop-shingle discipline from operators/dedup.py), and
    out-degrees in the Jaccard denominator are recomputed on the
    surviving edges, so the score is exact for the stated input.

    Scale shape: distinct + fan-in groupBy shuffle on dst, capped edge
    table persisted ONCE (the self-join would otherwise embed and re-run
    the upstream plan per side — the r3 lesson), pair generation is an
    equi-join on dst whose per-key fan-out is <= cap (so <= cap^2/2 pairs
    per dst — never quadratic in the corpus), degree attach on the pair
    keys. Integer-only output: jacc_ppm by BIGINT division, no floats.
    """
    from ..caching import track_persist

    e = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    fan = e.groupBy("dst").agg(F.count("*").alias("fin"))
    ek = track_persist(
        e.join(fan.filter(F.col("fin") <= cap).select("dst"), "dst")
    )
    deg = ek.groupBy("src").agg(F.count("*").alias("deg"))
    pairs = (
        ek.alias("a")
        .join(ek.alias("b"), "dst")
        .filter(F.col("a.src") < F.col("b.src"))
        .groupBy(
            F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b")
        )
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    out = (
        pairs.join(deg.withColumnRenamed("src", "src_a"), "src_a")
        .withColumnRenamed("deg", "deg_a")
        .join(
            deg.withColumnRenamed("src", "src_b").withColumnRenamed(
                "deg", "deg_b"
            ),
            "src_b",
        )
    )
    return out.select(
        "src_a",
        "src_b",
        "n_common",
        F.col("deg_a").cast("long").alias("deg_a"),
        F.col("deg_b").cast("long").alias("deg_b"),
        F.expr(
            "cast((n_common * cast(1000000 as bigint))"
            " div (deg_a + deg_b - n_common) as bigint)"
        ).alias("jacc_ppm"),
    )


def cocitation_sql(edges_cte: str, cap: int = 20, min_common: int = 2) -> str:
    """DuckDB twin of :func:`cocitation`."""
    return f"""
with e0 as (
  select distinct src::BIGINT as src, dst::BIGINT as dst
  from ({edges_cte}) where src <> dst
),
fan as (select dst, count(*) as fin from e0 group by dst),
ek as (
  select e0.src, e0.dst from e0 join fan using (dst) where fin <= {cap}
),
deg as (select src, count(*) as deg from ek group by src),
p as (
  select a.src as src_a, b.src as src_b, count(*) as n_common
  from ek a join ek b using (dst)
  where a.src < b.src
  group by 1, 2
  having count(*) >= {min_common}
)
select p.src_a, p.src_b, p.n_common::BIGINT as n_common,
       da.deg::BIGINT as deg_a, db.deg::BIGINT as deg_b,
       ((p.n_common * 1000000) // (da.deg + db.deg - p.n_common))::BIGINT
         as jacc_ppm
from p
join deg da on p.src_a = da.src
join deg db on p.src_b = db.src
"""


def two_hop_reach(edges: DataFrame, cap: int = 20) -> DataFrame:
    """Distinct 2-hop reach per source node — the frontier-expansion
    sizing signal (how many NEW urls one more hop from this page can
    discover) and the influence analog of degree one level out.

    Semantics are defined OVER THE CAPPED EDGE SET (the cocitation
    discipline): midpoints whose OUT-degree exceeds ``cap`` are dropped
    before the hop join — a hub that links to everything inflates every
    reach count with the same mass and is exactly the key that makes the
    join quadratic. On the surviving edges, reach(u) = |{v != u : u->m,
    m->v}| — distinct endpoints, self excluded.

    Scale shape: dedup + out-degree groupBy shuffle on src; the capped
    edge table is persisted ONCE and used as both join sides (the r3
    self-join-re-runs-upstream lesson); the hop equi-join's per-key
    fan-out is <= cap, so output is <= |E| * cap, never |V|^2. The
    distinct + count collapse map-side. Integer-only output.
    """
    from ..caching import track_persist

    e = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    odeg = e.groupBy("src").agg(F.count("*").alias("odeg"))
    mids_ok = odeg.filter(F.col("odeg") <= cap).select(
        F.col("src").alias("mid")
    )
    ek = track_persist(e)
    hop2 = (
        ek.alias("a")
        .join(mids_ok, F.col("a.dst") == F.col("mid"))
        .join(
            ek.alias("b").select(
                F.col("src").alias("mid2"), F.col("dst").alias("v")
            ),
            F.col("mid") == F.col("mid2"),
        )
        .filter(F.col("a.src") != F.col("v"))
        .select(F.col("a.src").alias("src"), "v")
        .distinct()
    )
    return hop2.groupBy("src").agg(F.count("*").cast("long").alias("n_reach"))


def two_hop_reach_sql(edges_cte: str, cap: int = 20) -> str:
    """DuckDB twin of :func:`two_hop_reach`."""
    return f"""
with raw as ({edges_cte}),
e as (
  select distinct src::BIGINT as src, dst::BIGINT as dst
  from raw where src <> dst
),
odeg as (select src, count(*) as odeg from e group by src),
mids as (select src as mid from odeg where odeg <= {cap}),
hop2 as (
  select distinct a.src as src, b.dst as v
  from e a
  join mids on a.dst = mids.mid
  join e b on b.src = mids.mid
  where a.src <> b.dst
)
select src, count(*)::BIGINT as n_reach from hop2 group by src
"""

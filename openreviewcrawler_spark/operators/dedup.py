"""Deduplication operators for web-scale training-data pipelines.

The reference deduplicates only small key sets driver-side (``set()`` over
invitations, /root/reference/crawler.py:153-157; venue-year seen-set,
crawler.py:29-60). A 100 TB corpus needs *document* dedup; this module adds
the standard ladder, each as a declarative DataFrame plan with an exact
DuckDB SQL twin (registered in ``__spark_entry__``):

  * exact          — hash-groupBy on md5(text); one shuffle, map-side partial.
  * MinHash + LSH  — shingle -> H minhashes -> B bands -> band-bucket
                     self-join. Candidate pairs only ever meet inside a band
                     bucket, so the join is an equi-join Catalyst can shuffle
                     on the (band, key) pair — never a cross join. This is
                     the shape that survives 10^9 documents.
  * SimHash        — per-token hash bit votes -> 64-bit signature as
                     4 x 16-bit bands -> candidates by band equi-join
                     (pigeonhole: Hamming<=3 pairs always share a band) ->
                     exact Hamming verify. Never all-pairs.
  * n-gram Jaccard — exact pairwise Jaccard, computed by shingle equi-join
                     (inverted-index style), not by pairwise cross join.
  * embedding cosine near-dup — candidates from random-hyperplane LSH
                     signature-band equi-joins (operators/similarity),
                     exact-cosine verified. Never label-blocked brute force.
  * connected components — near-dup pairs -> clusters -> canonical keeper
                     per cluster (min-label propagation to fixpoint).

All hashing is md5-derived (``textstats.hash32_col``) so Spark and DuckDB
agree bit-for-bit; no Spark-internal murmur3 leaks into results.

Scale notes (100 TB): every plan here is shuffle-on-key + groupBy with
partial aggregation. The LSH band join is the only quadratic-risk stage and
its blow-up is bounded by bucket size; hot buckets (boilerplate pages) are
handled by AQE skew-join splitting, and the band key includes the full
band signature so false buckets are rare.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import track_persist
from .textstats import hash32_col, tokens_col

N_MINHASH = 16
N_BANDS = 4  # 4 rows per band: discriminative enough that buckets stay small

#: affine mixing constants for the minhash streams: stream j hashes a shingle
#: as (A[j] * h + B[j]) % P where h = hash32(shingle) is computed ONCE.
#: P = 2^31-1 (Mersenne prime), A[j] < 2^30 so A*h < 2^62 stays inside BIGINT
#: in DuckDB too (it errors on overflow; Spark silently wraps — bounded
#: intermediates are the only arithmetic both engines agree on). Constants
#: are md5-derived so any engine/language reproduces them.
MINHASH_P = 2147483647


def _mix_constants(n: int = N_MINHASH) -> tuple[tuple[int, int], ...]:
    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    return tuple(
        (h32(f"a{j}") % ((1 << 30) - 1) + 1, h32(f"b{j}") % MINHASH_P)
        for j in range(n)
    )


MINHASH_MIX = _mix_constants()
MAX_BUCKET = 50  # hot-bucket cap: degenerate/boilerplate buckets are dropped
SIMHASH_BITS = 64
SIMHASH_BANDS = 4  # 4 x 16-bit bands; Hamming<=3 pairs always share a band
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
SIMHASH_MAX_HAMMING = 3


def shingles_df(corpus: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct n-token shingles per document.

    Docs shorter than ``n`` tokens emit no shingles (same rule in the SQL
    twin). Shingle construction is pure array expressions: no UDF.

    Shape matters: shingles are built by zipping ``n`` shifted SLICES of the
    token array, so every lambda references only its own arguments. The r1
    version indexed ``element_at(toks, i+j)`` inside a transform lambda —
    captured expressions are re-inlined at every use site, so Spark
    re-evaluated the full ``split(text)`` n times PER SHINGLE (~5 s/run at
    sf0.1 for 378k shingles; this shape takes it to sub-second with
    identical output)."""
    toks = tokens_col(F.col("text"))
    m = F.size(toks) - F.lit(n - 1)  # number of shingles
    zipped = F.slice(toks, 1, m)
    for j in range(1, n):
        zipped = F.zip_with(
            zipped,
            F.slice(toks, 1 + j, m),
            lambda acc, t: F.concat_ws(" ", acc, t),
        )
    return (
        corpus.filter(F.size(toks) >= n)
        .select("doc_id", F.explode(F.array_distinct(zipped)).alias("shingle"))
    )


def minhash_signatures(corpus: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """(doc_id, mh0..mh{H-1}) — minhash signature per document.

    One explode + one groupBy: each shingle is md5-hashed ONCE, and the H
    hash streams are derived by cheap affine integer mixing (MINHASH_MIX) —
    r1 spent 64% of the headline suite computing H separate md5s per
    shingle. All streams are min-aggregated map-side (partial agg), so the
    only shuffle carries one row per (doc, signature)."""
    sh = shingles_df(corpus)
    hashed = sh.select("doc_id", hash32_col(F.col("shingle")).alias("h"))
    mixed = hashed.select(
        "doc_id",
        *[
            ((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{j}")
            for j, (a, b) in enumerate(MINHASH_MIX[:n_hashes])
        ],
    )
    return mixed.groupBy("doc_id").agg(
        *[F.min(f"h{j}").alias(f"mh{j}") for j in range(n_hashes)]
    )


def banded_signatures(corpus: DataFrame, sig: DataFrame | None = None) -> DataFrame:
    """(doc_id, band, bkey) — LSH band rows, B per document.

    Bands of 4 minhash rows each; band key = joined minhash string. All B
    band rows come from ONE signature evaluation via a single explode (a
    B-way union of selects over the signature plan embeds — and runs — the
    shingle->signature pipeline B times). Pass a pre-built (ideally
    persisted) ``sig`` when the caller also needs the raw signatures
    (``minhash_error_profile``) so the shingle job runs once."""
    if sig is None:
        sig = minhash_signatures(corpus)
    rows_per_band = N_MINHASH // N_BANDS
    band_structs = []
    for b in range(N_BANDS):
        cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("/", *[F.col(c).cast("string") for c in cols]).alias("bkey"),
            )
        )
    return (
        sig.select("doc_id", F.explode(F.array(*band_structs)).alias("bb"))
        .select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
    )


def minhash_lsh_pairs(corpus: DataFrame, banded: DataFrame | None = None) -> DataFrame:
    """(doc_a, doc_b, n_bands) — candidate near-dup pairs sharing >=1 LSH band.

    The self-join is an equi-join on (band, key): at 10^10 docs this shuffles
    on the band key and never materializes cross products outside a bucket.
    Buckets larger than MAX_BUCKET are dropped before the join — without the
    cap, low-entropy corpora (boilerplate pages sharing globally-minimal
    shingles) produce quadratic hot buckets (measured: 113 s at sf0.1 with
    2-row bands and no cap, ~3 s with this shape). Exact duplicates in a
    dropped bucket are still caught by the exact md5 tier.
    """
    # pin the tiny banded table (B rows/doc): the bucket-size scan, the
    # hot-bucket anti-join and both self-join sides all read the cache
    # instead of re-running the signature job. Materializing signatures is
    # also the 100 TB-scale shape — the corpus-sized shingle explode runs
    # exactly once. (Callers that already built/persisted the band table
    # pass it in; they own its handle.)
    if banded is None:
        banded = track_persist(banded_signatures(corpus))
    bucket_sizes = banded.groupBy("band", "bkey").agg(F.count("*").alias("__bn"))
    banded = banded.join(
        F.broadcast(bucket_sizes.filter(F.col("__bn") > MAX_BUCKET)),
        ["band", "bkey"],
        "left_anti",
    )
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = left.join(
        right,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.bkey") == F.col("r.bkey"))
        & (F.col("l.doc_id") < F.col("r.doc_id")),
    ).select(
        F.col("l.doc_id").alias("doc_a"),
        F.col("r.doc_id").alias("doc_b"),
    )
    return pairs.groupBy("doc_a", "doc_b").agg(
        F.count("*").cast("long").alias("n_bands")
    )


def simhash_band_values(corpus: DataFrame) -> DataFrame:
    """(doc_id, band, bval) — 64-bit bit-vote simhash, emitted as 4 x 16-bit
    band values (band ``b`` holds overall bits ``16b..16b+15``).

    Two independent md5-derived 32-bit hashes per token supply the 64 bit
    sources. Band values stay below 2^16, so no engine ever shifts into the
    BIGINT sign bit (DuckDB errors on BIGINT overflow; Spark wraps silently —
    keeping every intermediate small is the only representation both agree
    on).
    """
    toks = corpus.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    ).select(
        "doc_id",
        hash32_col(F.col("tok")).alias("h_lo"),
        hash32_col(F.concat(F.lit("hi|"), F.col("tok"))).alias("h_hi"),
    )
    # all 64 bit-vote sums in ONE groupBy (64 conditional-sum agg exprs,
    # map-side partial): no 64x bit explode and no distinct-token
    # pre-shuffle — votes are additive, so duplicate tokens combine in the
    # partial aggregate and the only shuffle carries one 64-col row per doc.
    def _vote(bit: int):
        src = f"shiftright(h_lo, {bit})" if bit < 32 else f"shiftright(h_hi, {bit - 32})"
        return F.sum(
            F.when(F.expr(f"({src}) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"s{bit}")

    sums = toks.groupBy("doc_id").agg(*[_vote(b) for b in range(SIMHASH_BITS)])
    band_structs = []
    for b in range(SIMHASH_BANDS):
        bval = None
        for r in range(SIMHASH_BAND_BITS):
            bit = b * SIMHASH_BAND_BITS + r
            term = F.when(F.col(f"s{bit}") > 0, F.lit(1 << r).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            bval = term if bval is None else bval + term
        band_structs.append(
            F.struct(F.lit(b).cast("long").alias("band"), bval.alias("bval"))
        )
    return sums.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"))


def simhash_near_pairs(
    corpus: DataFrame, max_hamming: int = SIMHASH_MAX_HAMMING
) -> DataFrame:
    """(doc_a, doc_b, hamming) — pairs within Hamming distance over the
    64-bit simhash, blocked by signature bands (never all-pairs).

    Candidate generation is an equi-join on (band, bval): two docs meet only
    if one of their four 16-bit signature bands is identical. By pigeonhole,
    any pair within Hamming 3 of a 64-bit signature differs in at most 3 of
    the 4 bands, so band-blocking loses NO qualifying pair — the blocked plan
    computes exactly the all-pairs result while shuffling on a key. Buckets
    above MAX_BUCKET (degenerate near-empty docs whose bands are all zero,
    boilerplate) are dropped before the join, same discipline and cap as the
    MinHash-LSH tier; the SQL oracle mirrors the drop.
    """
    # pin the band table (4 rows/doc): `wide`, the hot-bucket scan and the
    # kept anti-join otherwise each re-run the token-explode + 64-vote
    # aggregation (the expensive stage); one evaluation, three cache reads.
    bands = track_persist(simhash_band_values(corpus))
    wide = bands.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("band") == b, F.col("bval"))).alias(f"b{b}")
            for b in range(SIMHASH_BANDS)
        ]
    )
    hot = (
        bands.groupBy("band", "bval")
        .agg(F.count("*").alias("__bn"))
        .filter(F.col("__bn") > MAX_BUCKET)
        .select("band", "bval")
    )
    kept = bands.join(F.broadcast(hot), ["band", "bval"], "left_anti")
    l, r = kept.alias("l"), kept.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bval") == F.col("r.bval"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    wl = wide.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{b}").alias(f"la{b}") for b in range(SIMHASH_BANDS)],
    )
    wr = wide.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{b}").alias(f"rb{b}") for b in range(SIMHASH_BANDS)],
    )
    hamming = None
    for b in range(SIMHASH_BANDS):
        term = F.bit_count(F.col(f"la{b}").bitwiseXOR(F.col(f"rb{b}")))
        hamming = term if hamming is None else hamming + term
    return (
        pairs.join(wl, "doc_a")
        .join(wr, "doc_b")
        .select("doc_a", "doc_b", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


MAX_SHINGLE_DF = 100  # stop-shingle cap for the inverted-index join


def ngram_jaccard_pairs(corpus: DataFrame, threshold: float = 0.5) -> DataFrame:
    """(doc_a, doc_b, jaccard) — 3-gram Jaccard via inverted-index equi-join
    on shingle (never a cross join).

    Shingles occurring in more than MAX_SHINGLE_DF documents are dropped
    before the join (stop-shingle removal, the standard inverted-index
    mitigation): a shingle shared by d documents contributes d^2/2 pair rows,
    so low-entropy corpora otherwise go quadratic (measured 145 s at sf0.1
    without the cap). Jaccard is computed over the *kept* shingle sets on
    both sides, so the SQL oracle and near-dup semantics stay consistent.
    """
    # pin the exploded shingle table — the document-frequency scan, the
    # size aggregation and both inverted-index join sides otherwise each
    # re-run tokenize + slice-zip + explode over the corpus. The inverted
    # index IS this operator's core data structure; materializing it once is
    # the scale shape too (MEMORY_AND_DISK spills past executor memory).
    sh_all = track_persist(shingles_df(corpus))
    hot = (
        sh_all.groupBy("shingle")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > MAX_SHINGLE_DF)
        .select("shingle")
    )
    sh = sh_all.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    l, r = sh.alias("l"), sh.alias("r")
    inter = (
        l.join(
            r,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    # NO broadcast hint on the size attach: `sizes` is one row per corpus
    # document, so a forced broadcast is an OOM at the 10^10-doc design
    # point and overrides AQE's size logic (r3 verdict #2 — the only
    # scale-killer found in the dedup family). doc_a/doc_b are already the
    # shuffle keys of `inter`, so these attach as plain shuffle joins; AQE
    # may still choose broadcast when the corpus is actually small.
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def embedding_near_pairs(vectors: DataFrame, threshold: float = 0.95) -> DataFrame:
    """(vec_a, vec_b, cos) — cosine near-dups, candidates from the LSH
    signature-band equi-join (operators.similarity), exact-cosine verified.

    The r1 label-blocked brute force is gone: two vectors meet only when an
    8-bit random-hyperplane signature band matches, so the join shuffles on
    (band, bval) and never materializes a block cross-product. Exact
    duplicates share every band (always found); cos>=0.95 pairs share a band
    with ~0.8 probability at these parameters (3 bands x 8 planes) — the
    standard LSH recall/cost dial, raise LSH_BANDS for more recall. Hot
    buckets above MAX_VEC_BUCKET are dropped (mirrored in the SQL oracle).

    Dot product / norms in pure array expressions over array<double> (cast
    from float so Spark and DuckDB sum the same doubles in the same order).
    """
    from .similarity import MAX_VEC_BUCKET, lsh_band_values

    v = vectors.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
    ).withColumn(
        "norm",
        F.sqrt(F.aggregate(F.col("e"), F.lit(0.0), lambda a, x: a + x * x)),
    )
    # pin the band signatures (3 rows/vector): the hot-bucket scan and the
    # anti-joined self-join sides otherwise each re-run the 24 plane-dot
    # folds per vector (the expensive stage of this plan).
    bands = track_persist(lsh_band_values(vectors))
    hot = (
        bands.groupBy("band", "bval")
        .agg(F.count("*").alias("__bn"))
        .filter(F.col("__bn") > MAX_VEC_BUCKET)
        .select("band", "bval")
    )
    kept = bands.join(F.broadcast(hot), ["band", "bval"], "left_anti")
    bl, br = kept.alias("bl"), kept.alias("br")
    pairs = (
        bl.join(
            br,
            (F.col("bl.band") == F.col("br.band"))
            & (F.col("bl.bval") == F.col("br.bval"))
            & (F.col("bl.vec_id") < F.col("br.vec_id")),
        )
        .select(F.col("bl.vec_id").alias("vec_a"), F.col("br.vec_id").alias("vec_b"))
        .distinct()
    )
    vl = v.select(F.col("vec_id").alias("vec_a"), F.col("e").alias("le"),
                  F.col("norm").alias("lnorm"))
    vr = v.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("re"),
                  F.col("norm").alias("rnorm"))
    dot = F.aggregate(
        F.zip_with(F.col("le"), F.col("re"), lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return (
        pairs.join(vl, "vec_a")
        .join(vr, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(dot / (F.col("lnorm") * F.col("rnorm")), 3).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def connected_components(
    edges: DataFrame, nodes: DataFrame, max_iter: int = 24
) -> DataFrame:
    """(doc_id, component) — connected components over near-dup pairs:
    component = the MINIMUM doc_id reachable through the dup graph, i.e. the
    canonical keeper every member deduplicates to. Pairs alone don't answer
    "which copy do I keep?" on a real corpus — A~B and B~C must collapse to
    one keeper even when A~C was never emitted.

    Algorithm: min-label propagation to fixpoint, with three disciplines that
    keep the driver loop honest at 10^10 nodes:

      * **edge-subgraph only.** A node with no incident edge can never change
        label, so the iteration runs on ``distinct(endpoints(edges))`` — the
        dup subgraph, typically orders of magnitude smaller than the corpus.
        Singletons are unioned back as their own component at the end without
        ever entering a loop shuffle. (The r2 version iterated the FULL node
        set: every iteration shuffled the whole corpus to move zero labels.)
      * **iteration 1 is a plain groupBy, not a join.** From identity labels,
        one propagation step is ``label(n) = min(n, min(neighbors))`` — sym
        already holds every (n, neighbor) pair, so the first round needs no
        labels join at all. For the graphs LSH actually emits this is usually
        the LAST round too: a verified near-dup cluster is a *clique* (every
        member pairs with every member), and in a clique one step reaches the
        global min.
      * **adaptive probe schedule.** Labels only ever decrease, so
        sum-equality between consecutive probes is the fixpoint test. The
        first ``FAST_PROBE_ITERS`` iterations probe EVERY round: while
        convergence is expected (cliques: round 2 confirms round 1), a probe
        barrier is far cheaper than the extra full-subgraph propagation
        rounds a sparse probe schedule runs past the fixpoint — the r2
        1-per-3 schedule saved 1 barrier but paid 3 wasted join rounds on
        already-converged labels. Past that, deep-chain graphs probe 1-per-3
        (barrier count stops tracking diameter). Every probe rides a
        ``localCheckpoint(eager=True)`` that also truncates lineage, so
        iteration k re-plans a ≤3-deep DAG, not a k-deep one.
      * **edges materialized once.** ``sym`` is persisted before the loop;
        without it every iteration re-ran the upstream candidate-pair plan
        (for minhash edges: the full shingle->signature->band-join pipeline
        per iteration).

    Iteration count = dup-cluster diameter, which hot-bucket-capped LSH keeps
    small. If ``max_iter`` is exhausted before the fixpoint, a warning is
    raised and the partial labels are returned — callers that need hard
    guarantees should raise ``max_iter`` (diameter > 24 implies a dup *chain*
    of 25+ distinct near-identical docs, which the LSH tiers do not emit in
    practice); the alternating large-star/small-star contraction is the
    documented upgrade if real diameters ever grow past that.

    ``edges``: (doc_a, doc_b); ``nodes``: (doc_id) — singleton docs come out
    as their own component.
    """
    import warnings

    FAST_PROBE_ITERS = 4  # probe every round while convergence is expected
    SLOW_PROBE_EVERY = 3  # then 1 barrier per 3 rounds on deep-chain graphs

    # both directions from ONE pass over edges: a union of two selects over
    # `edges` embeds the upstream candidate-pair plan twice and Spark runs
    # it twice in the materialization job (measured: the minhash pipeline is
    # ~3 s at sf0.1 and dominated this operator's cost); the explode emits
    # (n,m) and (m,n) per input row with a single upstream evaluation.
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("n"), F.col("doc_b").alias("m")),
                    F.struct(F.col("doc_b").alias("n"), F.col("doc_a").alias("m")),
                )
            ).alias("e")
        )
        .select("e.n", "e.m")
        .persist()
    )
    # iteration 1 fused into the seed: min(n, min over direct neighbors) is
    # exactly one propagation step from identity labels, and needs only a
    # groupBy on the cached edges (no labels join). Also materializes sym.
    labels = (
        sym.groupBy("n")
        .agg(F.min("m").alias("__mm"))
        .select(F.col("n").alias("node"), F.least("n", "__mm").alias("comp"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F.sum("comp").alias("s")).collect()[0]["s"]
    prev_df = labels
    converged = False
    it = 1
    while it < max_iter:
        span = 1 if it < FAST_PROBE_ITERS else SLOW_PROBE_EVERY
        for _ in range(span):
            neigh = sym.join(labels, sym["m"] == labels["node"]).select(
                sym["n"].alias("node"), F.col("comp")
            )
            labels = (
                labels.unionByName(neigh)
                .groupBy("node")
                .agg(F.min("comp").alias("comp"))
            )
            it += 1
        # materialize + cut lineage + fixpoint probe in one barrier
        labels = labels.localCheckpoint(eager=True)
        prev_df.unpersist()
        prev_df = labels
        s = labels.agg(F.sum("comp").alias("s")).collect()[0]["s"]
        if s == prev_sum:
            converged = True
            break
        prev_sum = s
    if not converged:
        warnings.warn(
            f"connected_components: fixpoint not confirmed within {max_iter} "
            "iterations; labels may be partial (dup-chain diameter exceeds "
            "max_iter). Raise max_iter.",
            RuntimeWarning,
            stacklevel=2,
        )
    # the endpoint set IS labels' key set (every edge endpoint got a label in
    # the fused first iteration), and labels are checkpointed — the singleton
    # anti-join reads them without touching sym again
    sym.unpersist()
    singletons = nodes.join(
        labels.select(F.col("node").alias("doc_id")), "doc_id", "left_anti"
    ).select("doc_id", F.col("doc_id").alias("component"))
    return labels.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    ).unionByName(singletons)


def decontaminate_ngrams(
    train: DataFrame, eval_docs: DataFrame, n: int = 3
) -> DataFrame:
    """(doc_id, n_hit_ngrams, n_eval_docs) — benchmark decontamination scan.

    Flags every training document sharing at least one n-token shingle with
    an evaluation/benchmark document (the standard pre-training
    decontamination pass; the reference has no analog — its corpus is
    benchmark-free by construction, but any 100 TB web corpus must prove its
    eval sets aren't leaked into training data).

    Scale shape: the eval side is MBs against a 100 TB train side, so the
    eval n-gram inverted index is built once, deduplicated, and BROADCAST —
    the train shingles stream through a map-side hash join and the only
    shuffle is the final per-doc count aggregation (map-side partial). No
    stop-shingle cap here, deliberately: dropping a hot n-gram could hide a
    real leak, and the broadcast side bounds the join fan-out at
    |eval ngrams| regardless of train-side frequency.

    ``n`` is the contamination window: production decontamination uses
    8-13-token windows (the scale of published benchmark answers); the
    fixture corpus draws from a ~30-word vocabulary, so the catalog entry
    runs n=3 to exercise every code path with non-trivial hit counts.

    eval_docs: (eval_id, text). Returns one row per CONTAMINATED train doc:
    distinct leaked n-grams and how many distinct eval docs they came from.
    """
    ev = (
        shingles_df(eval_docs.select(F.col("eval_id").alias("doc_id"), "text"), n=n)
        .select(F.col("doc_id").alias("eval_id"), "shingle")
    )
    tr = shingles_df(train, n=n)
    hits = tr.join(F.broadcast(ev), "shingle")
    return hits.groupBy("doc_id").agg(
        F.count_distinct("shingle").alias("n_hit_ngrams"),
        F.count_distinct("eval_id").alias("n_eval_docs"),
    )


def minhash_lsh_incremental(
    old: DataFrame, new: DataFrame, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """(new_id, old_id, n_bands) — near-dups of an INCOMING batch against the
    EXISTING corpus, the shape production dedup actually runs: history is
    deduplicated once; each day's crawl only needs new-vs-history (and
    new-vs-new via :func:`minhash_lsh_pairs` on the small batch), never a
    re-join of history against itself.

    Scale shape: at 100 TB the history side's banded signature table is
    computed ONCE ever and stored (it is derived data; re-banding history
    per batch would re-shingle the whole corpus). The join is a strict
    new-vs-old band equi-join, so the quadratic history x history work never
    happens and cost scales with |batch| x bucket-hit-rate. The hot-bucket
    cap applies to the HISTORY side — boilerplate accumulates there — and
    dropping a hot history bucket only defers those candidates to the exact
    md5 tier, same contract as the batch dedup.
    """
    old_b = track_persist(banded_signatures(old))
    hot = (
        old_b.groupBy("band", "bkey")
        .agg(F.count("*").alias("__bn"))
        .filter(F.col("__bn") > max_bucket)
        .select("band", "bkey")
    )
    old_kept = old_b.join(F.broadcast(hot), ["band", "bkey"], "left_anti")
    new_b = banded_signatures(new)
    pairs = (
        new_b.alias("n")
        .join(
            old_kept.alias("o"),
            (F.col("n.band") == F.col("o.band")) & (F.col("n.bkey") == F.col("o.bkey")),
        )
        .select(F.col("n.doc_id").alias("new_id"), F.col("o.doc_id").alias("old_id"))
    )
    return pairs.groupBy("new_id", "old_id").agg(
        F.count("*").cast("long").alias("n_bands")
    )


# ---------------------------------------------------------------------------
# paragraph-level exact dedup (MassiveText/Gopher repetition removal analog)
# ---------------------------------------------------------------------------

#: words per paragraph chunk — the fixture corpus is single-line word soup,
#: so "paragraph" is a fixed word window; on real web text the same operator
#: runs on newline-split paragraphs (swap the chunking regex), the dedup and
#: reassembly stages are unchanged.
PARA_WORDS = 20

#: greedy left-to-right grouping into chunks of <= PARA_WORDS words; Java
#: regex (Spark) and RE2 (DuckDB) both use leftmost-greedy matching here so
#: the chunkings are identical. [^ ] not \S: the pattern text is shared
#: verbatim with the SQL oracle and Spark SQL string literals consume
#: backslash escapes while DuckDB's do not.
PARA_CHUNK_RE = "[^ ]+( [^ ]+){0,%d}" % (PARA_WORDS - 1)


def paragraph_chunks(corpus: DataFrame) -> DataFrame:
    """(doc_id, chunk_idx, chunk) — document text split into word-window
    paragraphs, position preserved. One regexp_extract_all + posexplode; no
    UDF, no lambda-captured expressions."""
    chunks = F.expr(f"regexp_extract_all(text, '{PARA_CHUNK_RE}', 0)")
    return corpus.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk")
    )


def paragraph_dedup(corpus: DataFrame) -> DataFrame:
    """(doc_id, n_chunks, n_kept, clean_text) — remove every paragraph that
    already occurred earlier in the corpus (global first-occurrence keep,
    order = (doc_id, chunk_idx)), then reassemble each document from its
    surviving paragraphs in original order. Documents whose every paragraph
    is a duplicate drop out (the exact-duplicate docs the corpus plants).

    Scale shape (10^10 docs): chunks are hashed to 64-bit (md5 prefix, the
    cross-engine hash) so the wide chunk string never enters the keeper
    shuffle; first-occurrence is ONE groupBy(hash) -> min(struct(doc,idx))
    (map-side partial; a boilerplate paragraph duplicated on 10^9 pages is
    ONE reduced row, no skew) + an equi-join back; reassembly is one
    groupBy(doc) over kept chunks (bounded by document size). Three shuffles
    total, all on keys AQE can split.
    """
    ch = track_persist(
        paragraph_chunks(corpus).withColumn("h", hash32_col(F.col("chunk")))
    )
    keeper = ch.groupBy("h").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("k")
    )
    kept = (
        ch.join(keeper, "h")
        .filter(
            (F.col("doc_id") == F.col("k.doc_id"))
            & (F.col("chunk_idx") == F.col("k.chunk_idx"))
        )
        .select("doc_id", "chunk_idx", "chunk")
    )
    totals = ch.groupBy("doc_id").agg(F.count("*").alias("n_chunks"))
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("chunk_idx", "chunk"))),
                lambda s: s.chunk,
            ),
            " ",
        ).alias("clean_text"),
    )
    return rebuilt.join(totals, "doc_id").select(
        "doc_id", "n_chunks", "n_kept", "clean_text"
    )


SUBSTR_K = 8  # token-window width for substring-level dup statistics


def substring_dup_stats(corpus: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """(doc_id, n_windows, n_dup, dup_fraction) — per-document share of
    k-token windows that occur in at least one OTHER place in the corpus
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better": duplicated substrings, not just duplicated documents, drive
    memorization). Windows are the distinct k-shingles of each document.

    Scale shape (10^10 docs): windows are hashed to 64-bit before any
    shuffle (the wide window string never moves), the frequency table is
    ONE groupBy(h) with map-side partial (a boilerplate window on 10^9
    pages reduces to one row — no skew), and the per-doc rollup is one
    equi-join + one groupBy. The exploded window table is persisted so the
    frequency side and the probe side read cache instead of re-running the
    shingle job (the r3 double-run lesson)."""
    win = track_persist(
        shingles_df(corpus, n=k)
        .withColumn("h", hash32_col(F.col("shingle")))
        .select("doc_id", "h")
    )
    freq = win.groupBy("h").agg(F.count("*").alias("nd"))
    per_doc = (
        win.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_windows"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_windows",
        "n_dup",
        F.round(
            F.col("n_dup").cast("double") / F.col("n_windows").cast("double"), 6
        ).alias("dup_fraction"),
    )


def minhash_error_profile(corpus: DataFrame, n_buckets: int = 20) -> DataFrame:
    """Sketch-accuracy QA: |estimated − true| Jaccard over the LSH candidate
    pairs, bucketed into ``n_buckets`` equal-width error bins.

    The minhash signature ESTIMATES Jaccard (matching positions / H); dedup
    thresholds are set against that estimate, so the pipeline should report
    how far it sits from the exact set Jaccard on the pairs it actually
    surfaces — the per-corpus calibration a threshold choice needs (the
    textbook std-error 1/sqrt(H) ≈ 0.25 at H=16 says nothing about a
    specific corpus's shingle distributions).

    Float discipline: est = matches/16 is dyadic (exact); true =
    n_inter/(|A|+|B|−n_inter) is one correctly-rounded integer division;
    their difference, abs, and ×n_buckets are single IEEE ops — so the
    bucket id is bit-identical across engines with no decimal scaffolding.

    Scale shape: signatures computed ONCE (persisted, shared by the band
    table), candidate pairs from the capped LSH join, then three equi-joins
    keyed on pair doc ids / shingles — every join is candidate-bounded;
    nothing all-pairs. Output is ≤ n_buckets+1 rows.
    """
    sig = track_persist(minhash_signatures(corpus))
    banded = track_persist(banded_signatures(corpus, sig=sig))
    pairs = minhash_lsh_pairs(corpus, banded=banded).select("doc_a", "doc_b")

    matches = sum(
        (F.col(f"l.mh{j}") == F.col(f"r.mh{j}")).cast("int") for j in range(N_MINHASH)
    )
    est = pairs.join(sig.alias("l"), F.col("doc_a") == F.col("l.doc_id")).join(
        sig.alias("r"), F.col("doc_b") == F.col("r.doc_id")
    ).select("doc_a", "doc_b", (matches / F.lit(N_MINHASH)).alias("est_j"))

    sh = track_persist(shingles_df(corpus))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        pairs.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    j = (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.alias("za"), F.col("doc_a") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "est_j",
            (
                F.coalesce("n_inter", F.lit(0))
                / (F.col("za.n_sh") + F.col("zb.n_sh") - F.coalesce("n_inter", F.lit(0)))
            ).alias("true_j"),
        )
    )
    return (
        j.select(
            F.floor(F.abs(F.col("est_j") - F.col("true_j")) * n_buckets)
            .cast("int")
            .alias("err_bucket")
        )
        .groupBy("err_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


MAX_MIRROR_DIGEST_HOSTS = 10  # hot-digest cap for the host-pair self-join


def mirror_detect(
    pages: DataFrame,
    min_shared: int = 2,
    host_col: str = "host",
    digest_col: str = "digest",
) -> DataFrame:
    """Host-level mirror detection — (host_a, host_b, shared, jaccard):
    host pairs whose content-digest SETS overlap, ordered pairs
    host_a < host_b. The crawl-scheduler read of the dedup family
    (IRLbot-style): a detected mirror pair lets the frontier drop one
    whole host instead of deduping its pages one by one after fetching
    them — budget saved at FETCH time, not post-hoc.

    Scale shape: the (host, digest) table is deduped once and persisted
    (three consumers: sizes, both self-join sides — the r3 lesson);
    digests served by more than MAX_MIRROR_DIGEST_HOSTS hosts are
    dropped before the pair join (boilerplate pages — robots page,
    empty-page digest — would otherwise make the self-join quadratic in
    hosts, the LSH hot-bucket lesson at host granularity; mirrored in
    the SQL oracle). The pair join is a digest equi-join; jaccard =
    shared / (|a| + |b| - shared), one per-row double division, rounded
    once.
    """
    from ..caching import track_persist

    hd = track_persist(pages.select(host_col, digest_col).distinct())
    per_digest = hd.groupBy(digest_col).agg(F.count("*").alias("__dn"))
    cold = hd.join(
        per_digest.filter(F.col("__dn") <= MAX_MIRROR_DIGEST_HOSTS),
        digest_col,
    ).select(host_col, digest_col)
    cold = track_persist(cold)
    sizes = hd.groupBy(host_col).agg(F.count("*").alias("__sz"))
    a = cold.select(
        F.col(host_col).alias("host_a"), F.col(digest_col).alias("__d")
    )
    b = cold.select(
        F.col(host_col).alias("host_b"), F.col(digest_col).alias("__d")
    )
    pairs = (
        a.join(b, "__d")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    return (
        pairs.join(sizes.withColumnRenamed(host_col, "host_a"), "host_a")
        .withColumnRenamed("__sz", "__sa")
        .join(sizes.withColumnRenamed(host_col, "host_b"), "host_b")
        .withColumnRenamed("__sz", "__sb")
        .select(
            "host_a",
            "host_b",
            F.col("shared").cast("long").alias("shared"),
            F.round(
                F.col("shared").cast("double")
                / (F.col("__sa") + F.col("__sb") - F.col("shared")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def mirror_detect_sql(pages_cte: str, min_shared: int = 2) -> str:
    """Oracle twin: identical dedup, hot-digest cap, pair join, jaccard."""
    return f"""
with p as ({pages_cte}),
hd as (select distinct host, digest from p),
cold as (
  select hd.host, hd.digest
  from hd join (
    select digest from hd group by digest
    having count(*) <= {MAX_MIRROR_DIGEST_HOSTS}
  ) k using (digest)
),
sizes as (select host, count(*)::BIGINT as sz from hd group by host),
pairs as (
  select a.host as host_a, b.host as host_b, count(*)::BIGINT as shared
  from cold a join cold b on a.digest = b.digest and a.host < b.host
  group by 1, 2
  having count(*) >= {min_shared}
)
select p.host_a, p.host_b, p.shared,
       round(p.shared::DOUBLE / (sa.sz + sb.sz - p.shared)::DOUBLE, 6)
         as jaccard
from pairs p
join sizes sa on sa.host = p.host_a
join sizes sb on sb.host = p.host_b
"""


def quality_keeper(comp: DataFrame, quality: DataFrame) -> DataFrame:
    """Quality-argmax keeper per near-dup cluster — (component,
    cluster_size, keeper_doc, keeper_q10, minid_q10, q_gain) for every
    component with >= 2 members. ``comp`` is connected_components output
    (doc_id, component); ``quality`` is (doc_id, q10) integer-tenths
    scores (textstats.quality_q10_col). q_gain is what the policy buys
    over the canonical min-id keeper; the min-id baseline's quality
    attaches by joining quality on component directly (component == min
    reachable doc_id by construction).

    Scale shape: one size groupBy + one attach join + one row_number
    window per component over CLUSTER MEMBERS only (the edge subgraph),
    never the corpus. Integer comparisons throughout."""
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    ).filter(F.col("cluster_size") >= 2)
    j = comp.join(sizes, "component").join(quality, "doc_id")
    wq = Window.partitionBy("component").orderBy(
        F.col("q10").desc(), F.col("doc_id").asc()
    )
    keeper = (
        j.withColumn("rq", F.row_number().over(wq))
        .filter(F.col("rq") == 1)
        .select(
            "component",
            "cluster_size",
            F.col("doc_id").alias("keeper_doc"),
            F.col("q10").alias("keeper_q10"),
        )
    )
    minq = quality.select(
        F.col("doc_id").alias("component"), F.col("q10").alias("minid_q10")
    )
    return keeper.join(minq, "component").select(
        "component",
        "cluster_size",
        "keeper_doc",
        "keeper_q10",
        "minid_q10",
        (F.col("keeper_q10") - F.col("minid_q10")).cast("long").alias("q_gain"),
    )


def banded_hamming_pairs(
    wide: DataFrame,
    id_col: str = "asset_id",
    n_bands: int = SIMHASH_BANDS,
    max_hamming: int = SIMHASH_MAX_HAMMING,
) -> DataFrame:
    """(id_a, id_b, hamming) — near-duplicate pairs under Hamming distance
    over ANY banded 64-bit fingerprint, given a wide table
    (``id_col``, b0..b{n_bands-1}) of 16-bit band values. The generic
    engine behind :func:`simhash_near_pairs`, reusable for perceptual
    image hashes (pHash), audio chromaprints, or any other fixed-width
    fingerprint a decode stage emits — the banding, hot-bucket cap and
    exact verify are modality-independent.

    Same at-scale contract as the simhash tier: candidate generation is a
    band equi-join (pigeonhole: Hamming <= n_bands-1 pairs always share a
    band, so blocking loses no qualifying pair), buckets above MAX_BUCKET
    (degenerate all-black/all-silent assets) drop before the join, and
    the band table evaluates ONCE (persisted; hot scan + anti-join +
    self-join all read cache — the r3 union-embeds lesson).
    """
    band_structs = [
        F.struct(
            F.lit(b).cast("long").alias("band"), F.col(f"b{b}").alias("bval")
        )
        for b in range(n_bands)
    ]
    bands = track_persist(
        wide.select(
            F.col(id_col), F.explode(F.array(*band_structs)).alias("bb")
        ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"))
    )
    hot = (
        bands.groupBy("band", "bval")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") > MAX_BUCKET)
        .select("band", "bval")
    )
    kept = bands.join(F.broadcast(hot), ["band", "bval"], "left_anti")
    l, r = kept.alias("l"), kept.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bval") == F.col("r.bval"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )
    wl = wide.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"b{b}").alias(f"la{b}") for b in range(n_bands)],
    )
    wr = wide.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"b{b}").alias(f"rb{b}") for b in range(n_bands)],
    )
    hamming = None
    for b in range(n_bands):
        term = F.bit_count(F.col(f"la{b}").bitwiseXOR(F.col(f"rb{b}")))
        hamming = term if hamming is None else hamming + term
    return (
        pairs.join(wl, "id_a")
        .join(wr, "id_b")
        .select("id_a", "id_b", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def banded_hamming_pairs_sql(
    wide_cte: str,
    id_col: str = "asset_id",
    n_bands: int = SIMHASH_BANDS,
    max_hamming: int = SIMHASH_MAX_HAMMING,
) -> str:
    """Oracle twin of :func:`banded_hamming_pairs` over a CTE producing
    (``id_col``, b0..b{n_bands-1})."""
    ham = " + ".join(f"bit_count(xor(wl.b{b}, wr.b{b}))" for b in range(n_bands))
    band_rows = " union all ".join(
        f"select {id_col}, {b}::BIGINT as band, b{b} as bval from wide"
        for b in range(n_bands)
    )
    return f"""
with wide as ({wide_cte}),
bands as (
  {band_rows}
), hot as (
  select band, bval from bands group by 1, 2 having count(*) > {MAX_BUCKET}
), kept as (
  select b.* from bands b
  where not exists (select 1 from hot h where h.band = b.band and h.bval = b.bval)
), pairs as (
  select distinct l.{id_col} as id_a, r.{id_col} as id_b
  from kept l join kept r
    on l.band = r.band and l.bval = r.bval and l.{id_col} < r.{id_col}
)
select p.id_a::BIGINT as id_a, p.id_b::BIGINT as id_b, ({ham})::BIGINT as hamming
from pairs p
join wide wl on wl.{id_col} = p.id_a
join wide wr on wr.{id_col} = p.id_b
where ({ham}) <= {max_hamming}
"""

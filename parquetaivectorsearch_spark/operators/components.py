"""Connected components over near-duplicate pairs — the transitive-closure
step that turns pairwise dedup output into dedup *clusters* (pick one
canonical doc per cluster, drop the rest).

Algorithm: iterative min-label propagation. Each node starts labeled with
itself; every round each node takes the min of its own and its neighbors'
labels; converges to the component-minimum id in O(component diameter)
rounds — duplicate clusters are near-cliques (diameter ≤ 2-3), so a handful
of rounds suffices. The O(log n)-round alternating large-star/small-star
variant (Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC 2014) is the upgrade path for adversarial long-chain graphs.

Scale posture: each round is one join + one groupBy(min) — shuffle keyed on
node ids; `localCheckpoint` truncates the lineage each round so plan size
stays O(1) in rounds (the classic iterative-DataFrame trap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(pairs: DataFrame, a_col: str = "doc_a",
                         b_col: str = "doc_b", max_iter: int = 25) -> DataFrame:
    """(node, cluster_id) for every node appearing in `pairs`; cluster_id =
    min node id of its component. Deterministic.

    Convergence checks run every round for the first two rounds, then
    every second round (r14, guide §1.2): labels decrease monotonically,
    so an unchanged two-round block IS the fixpoint; the at-most-one
    wasted round costs one join+agg pass while a per-round check costs a
    count job + a checkpoint plan-trip every round forever. Near-clique
    graphs (the dedup regime) still exit on the round-1/2 checks.
    (Measured negative, r14: augmenting each round with pointer jumping
    — label ← min(label, label[label]) — converges a sorted-id PATH in
    O(log d) rounds but saved only 1 of 16 rounds on the real dbscan
    ε-graph, where label values are RANDOM ids relative to topology, so
    the pointer chain does not compose geographically; the extra
    self-join per round cost more than it saved. Long-diameter graphs
    are what connected_components_star is for.)"""
    e = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    edges = edges.localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
    )
    done = 0
    while done < max_iter:
        inner = 1 if done < 2 else min(2, max_iter - done)
        prev = labels
        for _ in range(inner):
            nbr_min = (
                edges.join(labels.withColumnRenamed("node", "src"), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min("label").alias("nbr_min"))
            )
            labels = (
                labels.join(nbr_min, "node", "left")
                .select(
                    "node",
                    F.least(F.col("label"),
                            F.coalesce("nbr_min", F.col("label")))
                    .alias("label"),
                )
            )
        # Lazy checkpoint + the convergence count as the SAME action
        # (the eager-checkpoint job and the count job were two driver
        # round trips; the count's join materializes the checkpoint as
        # a side effect — one job per block).
        labels = labels.localCheckpoint(eager=False)
        changed = (
            prev.withColumnRenamed("label", "old")
            .join(labels, "node")
            .filter(F.col("old") != F.col("label"))
            .count()
        )
        done += inner
        if changed == 0:
            break
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def connected_components_star(pairs: DataFrame, a_col: str = "doc_a",
                              b_col: str = "doc_b", max_iter: int = 30,
                              stats: dict | None = None) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR edge
    contraction (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii,
    "Connected Components in MapReduce and Beyond", SoCC 2014) — the
    O(log n)-round scale tier the min-label propagator's docstring
    promises: min-label converges in O(component diameter) rounds, so a
    length-n chain (adversarial but real — e.g. a sliding-window
    near-dup CHAIN of document revisions) needs n rounds and silently
    returns WRONG labels past max_iter; star contraction halves chain
    height per alternation and converges logarithmically
    (tests/test_dedup.py pins a 256-node path at ≤ 18 rounds where
    min-label@25 would mislabel it).

    One alternation is four narrow shuffles, all keyed on node ids:
    - large-star: per center u, m = min(Γ(u) ∪ {u}) via groupBy(min),
      joined back; every STRICTLY LARGER neighbor re-links to m —
      (m, v) for v ∈ Γ(u), v > u. No collect_list: the per-center
      neighborhood is never materialized as a row, so a mega-hub
      (the component root attracts everything) costs reduced rows,
      not one giant array.
    - small-star: per center u over the new edges, m = min of u's
      SMALLER neighbors; every smaller neighbor and u itself re-link
      to m. Edges stay canonical (min, max), self-loops impossible.

    Converged when the edge set reaches a fixed point (star forest);
    labels = root for members, self for roots. Output schema and label
    semantics identical to ``connected_components`` (cluster_id = the
    component-minimum id), equality property-tested on random graphs.
    ``stats["rounds"]`` records the alternation count when a dict is
    passed."""
    e = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v")) \
        .filter(F.col("u") != F.col("v"))
    E = (e.select(F.least("u", "v").alias("u"),
                  F.greatest("u", "v").alias("v"))
         .distinct().localCheckpoint(eager=True))
    rounds = 0
    while rounds < max_iter:
        rounds += 1
        sym = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # large-star: m(u) = min(Γ(u) ∪ {u}); (v > u) re-links to m.
        # m ≤ u < v, so the emitted edge is canonically (m, v).
        mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", F.col("u")).alias("m")))
        big = (sym.join(mins, "u").filter(F.col("v") > F.col("u"))
               .select(F.col("m").alias("u"), F.col("v").alias("v"))
               .distinct())
        # small-star: per center u, m = min of SMALLER neighbors (< u);
        # each smaller neighbor x ≠ m and u itself re-link to m.
        sym2 = big.union(big.select(F.col("v").alias("u"),
                                    F.col("u").alias("v")))
        smaller = sym2.filter(F.col("v") < F.col("u"))
        mins2 = smaller.groupBy("u").agg(F.min("v").alias("m"))
        s1 = (smaller.join(mins2, "u")
              .filter(F.col("v") != F.col("m"))
              .select(F.col("m").alias("u"), F.col("v").alias("v")))
        s2 = mins2.select(F.col("m").alias("u"), F.col("u").alias("v"))
        # Fixed point: set equality of two DISTINCT edge sets, tested as
        # a full-outer join whose every row carries both side markers.
        # r14 (guide §1/§2): one round used to cost THREE driver actions
        # — eager checkpoint, new count, anti-join count (plus an
        # E.count() re-run on the old side). Now the lazy checkpoint
        # materializes inside ONE agg job: |union| == |new| == |old| ⇔
        # equal. Same alternations, same edges, same labels — one job
        # per round instead of three.
        new_e = s1.union(s2).distinct().localCheckpoint(eager=False)
        chk = (new_e.withColumn("_new", F.lit(1))
               .join(E.withColumn("_old", F.lit(1)), ["u", "v"],
                     "full_outer")
               .agg(F.count("*").alias("n"), F.count("_new").alias("nn"),
                    F.count("_old").alias("no")).first())
        E = new_e
        if int(chk["nn"]) == int(chk["n"]) == int(chk["no"]):
            break
    if stats is not None:
        stats["rounds"] = rounds
    members = E.select(F.col("v").alias("doc_id"),
                       F.col("u").alias("cluster_id"))
    roots = (E.select(F.col("u").alias("doc_id")).distinct()
             .withColumn("cluster_id", F.col("doc_id")))
    return members.union(roots)


def connected_components_hashmin(pairs: DataFrame, a_col: str = "doc_a",
                                 b_col: str = "doc_b", max_iter: int = 25,
                                 stats: dict | None = None) -> DataFrame:
    """Connected components by HASH-TO-MIN path doubling (Rastogi,
    Machanavajjhala, Chitnis & Das Sarma, "Finding Connected Components
    in Map-Reduce in Logarithmic Rounds", ICDE 2013) — the third CC
    family in this module (r15, VERDICT #1), converging in O(log n)
    rounds like star contraction but with ONE exchange per round where
    min-label pays two-joins-plus-agg per DIAMETER round (16 rounds on
    the sf0.1 dbscan ε-graph) and star pays four shuffles per
    alternation.

    State: cluster sets C_v as rows (node, member); init C_v = {v} ∪
    Γ(v). Each round every v computes m = min C_v, sends {m} to every
    member (path-halving: members learn v's best min) and C_v to m
    (doubling: the min node absorbs the set). Both emissions come out
    of ONE pass over the joined rows (an explode of a 2-struct array —
    a union of two projections physically duplicated the join+agg
    subtree per branch), followed by one repartition(node) whose
    partitioning the dedup aggregate reuses; the per-round plan is one
    min aggregate + broadcast send-join + one data Exchange + dedup
    (plans/r15/round_cc_hashmin.txt). At convergence C_m = its whole
    component and C_v = {m} otherwise, so min(member) per node IS the
    component-minimum label — identical output contract to
    ``connected_components`` (equality property-tested on random graphs
    and deep chains).

    Convergence: H fixpoint, tested as star does (full-outer join count
    in one job) every SECOND round, comparing the two block-endpoint
    CHECKPOINTS — sound because the round map is deterministic and
    hash-to-min provably terminates, so a repeated state (H_{t+2} =
    H_t) cannot be a 2-cycle and must BE the fixpoint. Set growth is
    bounded: every
    non-min node's set shrinks toward {m}; the min node's set grows to
    its component (the paper's 2|V|+|E| space bound), so a giant
    component costs O(|component|) rows on one key at the END — the
    known hash-to-min caveat; the dedup regime (bounded near-clique
    clusters) never approaches it.

    Running out of ``max_iter`` returns the labels as they stand, which
    may not be converged: ``stats["converged"]`` is True only when the
    loop left through the fixpoint check."""
    e = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    ef = e.filter(F.col("u") != F.col("v"))
    sym = ef.union(ef.select(F.col("v").alias("u"), F.col("u").alias("v")))
    nodes = e.select(F.explode(F.array("u", "v")).alias("u"))
    H = (sym.union(nodes.select("u", F.col("u").alias("v")))
         .select(F.col("u").alias("node"), F.col("v").alias("member"))
         .repartition("node").dropDuplicates(["node", "member"])
         .localCheckpoint(eager=False))
    done, converged = 0, False
    while done < max_iter:
        inner = min(2, max_iter - done)
        prev = H
        for _ in range(inner):
            m = H.groupBy("node").agg(F.min("member").alias("m"))
            # both emissions from ONE pass over the joined rows via an
            # explode — a union of two projections duplicates the whole
            # join+agg subtree per branch in the physical plan (r15,
            # verified in plans/r15/round_cc_hashmin.txt)
            H = (H.join(m, "node")
                 .select(F.explode(F.array(
                     F.struct(F.col("member").alias("node"),
                              F.col("m").alias("member")),
                     F.struct(F.col("m").alias("node"),
                              F.col("member").alias("member")))).alias("e"))
                 .select("e.node", "e.member")
                 .repartition("node").dropDuplicates(["node", "member"]))
        # Lazy checkpoint + the fixpoint check as the SAME action (the
        # connected_components discipline): |union| == |new| == |old| ⇔
        # the two row sets are equal. Block-START comparison on purpose:
        # both compared states are checkpoints, so the check is one
        # cheap co-partitioned join — a measured negative (r15): the
        # tighter consecutive-state compare re-derives the last round's
        # lineage inside every check job and cost more than the ≤1
        # wasted round it can save.
        H = H.localCheckpoint(eager=False)
        chk = (H.withColumn("_new", F.lit(1))
               .join(prev.withColumn("_old", F.lit(1)),
                     ["node", "member"], "full_outer")
               .agg(F.count("*").alias("n"), F.count("_new").alias("nn"),
                    F.count("_old").alias("no")).first())
        done += inner
        if int(chk["nn"]) == int(chk["n"]) == int(chk["no"]):
            converged = True
            break
    if stats is not None:
        stats["rounds"] = done
        stats["converged"] = converged
    return (H.groupBy("node").agg(F.min("member").alias("cluster_id"))
            .select(F.col("node").alias("doc_id"), "cluster_id"))


def canonical_docs(pairs: DataFrame, all_docs: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Dedup resolution: every doc mapped to its cluster's canonical
    (minimum) id; docs in no pair are their own canonical. The keep-set is
    `filter(doc_id == canonical_id)`."""
    comp = connected_components(pairs)
    return (
        all_docs.select(F.col(id_col).alias("doc_id"))
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("canonical_id"),
        )
    )


def pagerank(edges: DataFrame, n_iter: int = 10, damping: float = 0.85,
             src_col: str = "src", dst_col: str = "dst",
             small_ranks: bool = False) -> DataFrame:
    """Fixed-iteration PageRank (Brin & Page 1998) over a directed edge
    list; returns (node, rank). Every node referenced by an edge must have
    out-degree ≥ 1 (symmetrize the graph first if needed): no dangling
    nodes, and with a symmetric graph every node also receives
    contributions each round, so the inner contribution join covers the
    full node set.

    Scale posture: out-degrees are joined onto the edge list ONCE up front;
    each iteration is one join (rank onto edges, keyed src) + one hash-agg
    (sum contributions, keyed dst) — two shuffles per round on a cluster,
    with `localCheckpoint` truncating lineage per round (same discipline as
    connected_components above). Fixed n_iter (not convergence-tested)
    keeps the operator deterministic and oracle-expressible as a bounded
    recursive CTE.

    ``small_ranks=True`` (r15, guide §3.1 / VERDICT #5): the caller
    asserts the NODE SET is bounded (e.g. pagerank_simgraph's 200-node
    precondition graph), so each round's rank frame carries an explicit
    broadcast hint into the contribution join — the per-round plan then
    has no rank-side shuffle at any scale of the EDGE list, instead of
    leaving the strategy to runtime size estimates. Corpus-scale graphs
    (pagerank_simgraph_full) must keep the default: a corpus-sized rank
    broadcast is a driver OOM, and the shuffled join is the correct
    shape there.
    """
    # Lazily checkpoint the edge list FIRST: the precondition check below is
    # the first action over it, so the (possibly expensive — e.g. a kNN
    # θ-join) upstream pipeline materializes exactly once and the check,
    # degree agg, and iteration loop all reuse the materialized partitions
    # instead of re-deriving the edges per consumer.
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")) \
        .localCheckpoint(eager=False)
    # Enforce the documented precondition instead of silently mis-ranking:
    # a dst-only node would leak rank mass (receives but never redistributes)
    # and skew n; a src-only node would vanish from `ranks` after round 1
    # (inner contribution join). One cheap job, runs once, not per round.
    # Precondition check + node count in ONE job (r14; they were two):
    # a full-outer join of the distinct src/dst node sets yields both
    # the asymmetric-node count and n = |distinct srcs| from one agg.
    chk = (
        e.select(F.col("src").alias("node")).distinct()
        .withColumn("_out", F.lit(1))
        .join(e.select(F.col("dst").alias("node")).distinct()
              .withColumn("_in", F.lit(1)), "node", "full_outer")
        .agg(F.count("*").alias("n_all"), F.count("_out").alias("n_out"),
             F.count("_in").alias("n_in"))
        .first()
    )
    if int(chk["n_out"]) != int(chk["n_all"]) or \
            int(chk["n_in"]) != int(chk["n_all"]):
        raise ValueError(
            "pagerank: edge list references nodes with no out-edges or no "
            "in-edges; symmetrize the graph (add reverse edges) first"
        )
    deg = e.groupBy("src").agg(F.count("*").alias("odeg"))
    ew = e.join(deg, "src").localCheckpoint(eager=False)
    n = int(chk["n_out"])
    ranks = deg.select(F.col("src").alias("node")) \
        .withColumn("rank", F.lit(1.0 / n))
    teleport = (1.0 - damping) / n
    for i in range(n_iter):
        rs = ranks.withColumnRenamed("node", "src")
        contribs = (
            ew.join(F.broadcast(rs) if small_ranks else rs, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("odeg")).alias("c"))
        )
        ranks = contribs.select(
            "node", (F.lit(teleport) + F.lit(damping) * F.col("c")).alias("rank")
        )
        if (i + 1) % 3 == 0:
            # Lazy: plan stays O(1) in rounds, but no mid-loop job — the
            # caller's single action materializes every checkpoint level
            # in one cascade (r14; each level still computes exactly once)
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def label_propagation_sync(edges: DataFrame, rounds: int = 4,
                           src_col: str = "src",
                           dst_col: str = "dst") -> DataFrame:
    """Synchronous label propagation (Raghavan, Albert & Kumara 2007) over
    a SYMMETRIC edge list; returns (node, community). Every node starts as
    its own label; each round replaces it with the most frequent neighbor
    label, ties to the smallest label — integer counts plus a total tie
    order make every round deterministic, and the FIXED round count keeps
    the output well-defined where free-running synchronous LPA oscillates
    (the paper's known bipartite failure mode; fixed-T is the standard
    batch remedy) and the operator oracle-expressible as one unrolled CTE
    pair per round.

    Scale posture: each round is one equi-join of the |V|-row label frame
    against the adjacency list (keyed dst — pre-partitioned edges co-locate
    it) plus one (node, label) count + per-node argmax window; a hub node
    sorts only its distinct candidate labels, never its full degree.
    `localCheckpoint` per round truncates lineage (same discipline as the
    iterative operators above)."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    labels = (e.select(F.col("src").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    from pyspark.sql.window import Window as W
    for i in range(rounds):
        counts = (e.join(labels, e["dst"] == labels["node"])
                  .groupBy("src", "label").agg(F.count("*").alias("c")))
        labels = (counts.withColumn(
                      "rn", F.row_number().over(
                          W.partitionBy("src").orderBy(F.desc("c"), "label")))
                  .filter(F.col("rn") == 1)
                  .select(F.col("src").alias("node"), "label"))
        # lazy checkpoint every SECOND round (r14, guide §1.2): each
        # localCheckpoint call pays a synchronous plan-finalization
        # driver trip; two rounds of join+window lineage is still O(1)
        # plan depth, so checkpointing half as often halves that cost
        # with identical results
        if i % 2 == 1 or i == rounds - 1:
            labels = labels.localCheckpoint(eager=False)
    return labels.select("node", F.col("label").alias("community"))


def kcore(edges: DataFrame, k: int = 3, rounds: int | None = None,
          src_col: str = "src", dst_col: str = "dst",
          max_rounds: int = 10_000, stats: dict | None = None) -> DataFrame:
    """k-core peel (Seidman 1983) over a SYMMETRIC edge list: iteratively
    drop nodes whose degree among the survivors is < k; returns the
    surviving (node, core_deg) rows.

    Convergence contract (VERDICT r11 #1 — the r11 version ran a silent
    fixed unroll and could return a strict SUPERSET of the true k-core
    on deep-chain graphs, exactly the shape near-dup revision chains
    produce):
    - ``rounds=None`` (default): iterate to FIXPOINT. Survivors only
      ever shrink (round t filters round t−1's set), so count equality
      between rounds IS set equality; each non-converged round drops at
      least one node, bounding the loop at |V| rounds — ``max_rounds``
      is a pure safety backstop (raises if hit). The per-round count is
      one cheap agg over the just-checkpointed survivor frame.
    - ``rounds=R`` (int): FIXED unroll, kept so the whole computation
      stays oracle-expressible as chained CTEs (removal recursion is
      inexpressible in a monotone recursive CTE). After the unroll the
      result is VERIFIED to be a fixpoint — every survivor must hold
      within-survivor degree ≥ k (a survivor with degree < k, or one
      with zero in-core edges and hence absent from the degree agg,
      means one more round would still peel) — and a non-converged peel
      raises ValueError instead of returning the superset.
    ``stats`` (optional dict) records ``rounds`` executed and
    ``converged``.

    Each round: two broadcast-or-shuffle semi-joins of the edge list
    against the (only ever shrinking) survivor set + one degree agg
    keyed src, with `localCheckpoint` truncating lineage per round."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")) \
        .localCheckpoint(eager=False)
    surv = e.select(F.col("src").alias("node")).distinct() \
        .localCheckpoint(eager=False)

    def peel_once(s: DataFrame, checkpoint: bool = True) -> DataFrame:
        deg = (e.join(s.withColumnRenamed("node", "src"), "src", "left_semi")
               .join(s.withColumnRenamed("node", "dst"), "dst", "left_semi")
               .groupBy("src").agg(F.count("*").alias("c")))
        out = (deg.filter(F.col("c") >= k)
               .select(F.col("src").alias("node")))
        return out.localCheckpoint(eager=False) if checkpoint else out

    if rounds is None:
        prev_n = surv.count()
        done = 0
        converged = prev_n == 0
        while not converged:
            if done >= max_rounds:
                raise ValueError(
                    f"kcore: no fixpoint within max_rounds={max_rounds} "
                    f"(survivors={prev_n})")
            # survivors shrink monotonically, so count equality across a
            # TWO-peel block is still set equality (an unchanged block
            # means both inner peels were no-ops); checking every second
            # round after the first two halves the per-round count job +
            # checkpoint plan-trip at the price of at most one no-op
            # peel (r14, guide §1.2 — same schedule as
            # connected_components)
            inner = 1 if done < 2 else min(2, max_rounds - done)
            for j in range(inner):
                surv = peel_once(surv, checkpoint=(j == inner - 1))
            done += inner
            n = surv.count()
            converged = n == prev_n or n == 0
            prev_n = n
    else:
        done = rounds
        for i in range(rounds):
            # checkpoint every SECOND peel (r14, guide §1.2): each
            # localCheckpoint pays a synchronous plan-finalization
            # trip; two peels of semi-join+agg lineage is still O(1)
            # plan depth — identical survivors
            surv = peel_once(surv,
                             checkpoint=(i % 2 == 1 or i == rounds - 1))

    out = (e.join(surv.withColumnRenamed("node", "src"), "src", "left_semi")
           .join(surv.withColumnRenamed("node", "dst"), "dst", "left_semi")
           .groupBy(F.col("src").alias("node"))
           .agg(F.count("*").cast("bigint").alias("core_deg"))
           .localCheckpoint(eager=False))
    if rounds is not None:
        chk = out.agg(F.count("*").alias("n"),
                      F.min("core_deg").alias("mind")).first()
        converged = (int(chk["n"]) == surv.count()
                     and (chk["mind"] is None or int(chk["mind"]) >= k))
        if not converged:
            raise ValueError(
                f"kcore: fixed rounds={rounds} did not reach the k-core "
                f"fixpoint (some survivors still below degree {k}); "
                f"raise rounds or use rounds=None to iterate to fixpoint")
    if stats is not None:
        stats["rounds"] = done
        stats["converged"] = converged
    return out

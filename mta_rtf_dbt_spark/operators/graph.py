"""Connected components over a pair relation — dedup clustering's last mile.

Pair-finding operators (dedup.py, similarity.py) emit *edges*; what a
training-data pipeline actually deletes is decided per *cluster*: group all
transitively-linked near-dups and keep one canonical doc. That grouping is
connected components.

Two DataFrame-native implementations, identical output:

- **large-star/small-star** (default): the alternating MapReduce CC
  algorithm (Kiveris et al. 2014) — edge-set contraction converging in
  O(log^2 n) rounds independent of graph diameter. The 100 TB default:
  a pathological chain component costs ~20 rounds, not diameter rounds.
- **min-label propagation**: label(v) <- min(label, neighbors' labels) to a
  fixpoint; rounds = diameter. Kept as the cross-check (test_graph.py
  asserts the two agree on chains/cliques/random graphs).

Each round is join + hash min-aggregate; lineage is cut per round with
``localCheckpoint`` (an iterative plan otherwise re-derives every prior
round — the classic Spark iteration trap). No driver-side graph state —
node labels never leave the cluster; the only driver values are per-round
convergence counts.

The driver entry is **fully oracle-checked**: min-reachable-id is a
deterministic labeling, and DuckDB expresses it as a recursive CTE over the
same edge set.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.registry import persist, q
from mta_rtf_dbt_spark.sources.registry import load


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    algorithm: str = "star",
) -> DataFrame:
    """(node, component) where component = min node id reachable via edges.

    ``edges`` is undirected (each pair listed once, either orientation).
    Isolated nodes don't appear (no edges -> their component is themselves —
    callers union them back if needed, as the driver entry does).

    ``algorithm="star"`` (default) is the alternating large-star/small-star
    method — O(log^2 n) rounds independent of graph diameter, the right
    default at 100 TB where a single long chain would starve label
    propagation. ``"propagate"`` is plain min-label propagation (rounds =
    diameter), kept for cross-checking; both produce the identical
    min-reachable-id labeling (asserted in tests/test_graph.py).
    """
    if algorithm == "star":
        return connected_components_star(edges, src, dst, max_iter)
    # one explode pass over the caller's edge pipeline (see the star
    # variant below — the two-orientation union read it twice)
    und = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        neighbor_min = (
            und.join(labels, und.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("label").alias("nmin"))
        )
        updated = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias(
                    "label"
                ),
                (F.col("nmin") < F.col("label")).alias("__chg"),
            )
            # lazy lineage cut — the convergence count right below is the
            # round's one action and materializes it (r11: one job/round)
            .localCheckpoint(eager=False)
        )
        changed = updated.filter(F.col("__chg")).count()
        labels = updated.drop("__chg")
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("component"))


def _large_star(und: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in MapReduce
    and Beyond"): every node a links its strictly-larger neighbors to
    m = min(N(a) + {a}). und carries both orientations.

    Output may contain DUPLICATE (u, v) rows (r11 — the trailing distinct
    was dropped): the small-star pass that always follows dedups at its own
    trailing distinct anyway, its min aggregate combines duplicates
    map-side for free, and paying a dedicated O(E) exchange here just to
    contract earlier moved the same bytes through one more shuffle
    (measured −0.18 s/round at sf0.1, output identical)."""
    mins = und.groupBy("a").agg(F.min("b").alias("mb"))
    mins = mins.select("a", F.least(F.col("a"), F.col("mb")).alias("m"))
    return (
        und.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(edges: DataFrame, oriented: bool = False) -> DataFrame:
    """Small-star round: orient each edge at its larger endpoint a, then link
    a and all its smaller neighbors to m = min of that neighborhood.

    ``oriented=True`` declares every input row already has u > v — true
    for ``_large_star`` output, whose edges all point from a strictly-
    larger u=b to v=m <= a < b (duplicates allowed: the min aggregate
    combines them map-side and the trailing distinct here is the dedup
    point). The re-orientation distinct is then a full extra exchange of
    the edge set per round for nothing (r11; the star composition always
    passes oriented=True)."""
    if oriented:
        o = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    else:
        o = edges.select(
            F.greatest("u", "v").alias("a"), F.least("u", "v").alias("b")
        ).distinct()
    mins = o.groupBy("a").agg(F.min("b").alias("m"))
    return (
        o.join(mins, "a")
        .select(F.col("b").alias("u"), F.col("m").alias("v"))
        .unionByName(mins.select(F.col("a").alias("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_star(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 25
) -> DataFrame:
    """Alternating large-star/small-star connected components.

    Each round is two (groupBy-min + self-join) passes over the edge set —
    the same shuffle shape as one propagation round — but the edge set
    contracts toward a star per component in O(log^2 n) rounds regardless
    of diameter (a 10^6-node chain converges in ~20 rounds where propagation
    needs 10^6). Convergence = the oriented edge set reaches a fixpoint,
    checked exactly (anti-join + count, no probabilistic hash compare).
    At the fixpoint every non-root node holds exactly one edge to its
    component's min id; labels read off the edges with no further pass.

    A ``canonical=True`` fast path (skip the preamble's two distinct
    exchanges when the caller guarantees distinct src < dst edges, e.g.
    the jaccard group graph) was tried in r12 and measured WORSE at sf0.1
    (interleaved min 1.20 s vs 1.08 s on the real contracted graph): the
    preamble distincts leave the edge set in AQE-coalesced tiny
    partitions that every later round inherits, which outweighs the two
    saved exchanges at this scale. Revisit only with a >=sf1 measurement.
    """
    # Lineage-cut checkpoints are LAZY (r11): each round's single driver
    # action (the stats aggregate below) materializes the round's edge set
    # as a side effect, so a round costs ONE job instead of an eager
    # checkpoint job plus the stats job — same cuts, same caches, half the
    # per-round scheduling barriers. ``nodes`` is read only by the final
    # labeling and materializes under that action through und0's cache.
    #
    # The undirected closure is ONE explode pass (r11) — the former
    # two-orientation union read `edges` through two subtrees, which
    # forced an eager persist of the caller's whole edge pipeline
    # (the jaccard posting join) just to stop the second subtree
    # re-running it; with a single pass the pipeline executes exactly once
    # under und0's checkpoint and the extra cache + its materialization
    # job are gone.
    und0 = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = und0.select(F.col("a").alias("node")).distinct().localCheckpoint(eager=False)
    cur = (
        und0.filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    cur.count()  # materialize: the round below reads cur via two subtrees
    for _ in range(max_iter):
        und = cur.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
            cur.select(F.col("v").alias("a"), F.col("u").alias("b"))
        )
        nxt = _small_star(_large_star(und), oriented=True).localCheckpoint(eager=False)
        # one action per round: converged iff nxt is a FUNCTIONAL star
        # forest — no node ever appears both as a u and as a v (chained),
        # AND every u has exactly one parent (nxt rows are distinct, so a
        # u on >= 2 rows means two different parents). Both conditions are
        # required (r12, ADVICE high): no-chained alone accepts
        # multi-parent states — e.g. path edges (10,5),(20,5),(10,6),(6,1),
        # (20,7),(7,2) give node 5 parents 1 and 2 in round 1 with no
        # chained v, and breaking there splits one component in two. A
        # functional u>v star forest IS a fixpoint of both star operations
        # (large-star links every leaf to the root it already points at;
        # small-star re-emits the same star), so the combined test still
        # detects convergence ONE ROUND EARLIER than the r10 edge-set-
        # equality test, with none of its false positives. Shape (r12):
        # one explode + per-node groupBy + tiny final agg — the former
        # probe join (distinct-u exchange + edge-set join) and the
        # countDistinct Expand are gone; the check still rides the single
        # aggregate job that materializes the round's checkpoint.
        per_node = (
            nxt.select(
                F.explode(
                    F.array(
                        F.struct(F.col("u").alias("x"), F.lit(1).alias("isu")),
                        F.struct(F.col("v").alias("x"), F.lit(0).alias("isu")),
                    )
                ).alias("e")
            )
            .groupBy("e.x")
            .agg(F.sum("e.isu").alias("as_u"), F.count(F.lit(1)).alias("cnt"))
        )
        stats = per_node.agg(
            F.max(
                ((F.col("as_u") > 0) & (F.col("cnt") > F.col("as_u"))).cast("int")
            ).alias("chained"),
            F.max((F.col("as_u") > 1).cast("int")).alias("multi"),
        ).first()
        cur = nxt
        if (stats.chained or 0) == 0 and (stats.multi or 0) == 0:
            break
    mapping = cur.groupBy(F.col("u").alias("node")).agg(F.min("v").alias("component"))
    return nodes.join(mapping, "node", "left").select(
        "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
    )


_CC_EDGE_CTES = """
WITH toks AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') arr
              FROM documents),
sh0 AS MATERIALIZED (SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(arr)-2,1)),
                               i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS shingle
       FROM toks WHERE len(arr) >= 3),
-- df filter as a grouped semi-join, NOT count(*) OVER (PARTITION BY shingle):
-- the window form sorts the full 22M-row shingle stream (sf3) in one
-- operator and its memory rides the same budget as the posting join below;
-- group-then-join keeps the same df<1000 semantics at a fraction of the
-- working set (the r7 sf3 sweep hit the 40GiB oracle spill cap here)
df AS MATERIALIZED (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) < 1000),
sh AS MATERIALIZED (SELECT s.doc_id, s.shingle FROM sh0 s JOIN df USING (shingle)),
-- Set-group collapse (r9, shared with the dedup_ngram_jaccard oracle): the
-- doc-level posting self-join is Sum C(df,2) intermediate rows — 3.6B at
-- the sf10 rehearsal's 100-clone density. Jaccard depends only on the two
-- shingle SETS, so group docs by identical capped shingle set, join +
-- threshold at set level (clone corpora collapse ~100x), then expand
-- qualifying set pairs back to doc pairs. Same-set docs have Jaccard
-- exactly 1.0 >= 0.2, so every within-group pair is an edge; the expanded
-- edge set is row-identical to the direct form's.
dl AS MATERIALIZED (SELECT doc_id, list(shingle ORDER BY shingle) AS sl
                    FROM sh GROUP BY doc_id),
g AS MATERIALIZED (SELECT min(doc_id) AS gid, sl,
                          list(doc_id ORDER BY doc_id) AS docs
                   FROM dl GROUP BY sl),
gsh AS MATERIALIZED (SELECT gid, unnest(sl) AS shingle, len(sl) AS n FROM g),
gpairs AS (SELECT a.gid ga, b.gid gb, a.n na, b.n nb, count(*) AS common
           FROM gsh a JOIN gsh b ON a.shingle = b.shingle AND a.gid < b.gid
           GROUP BY 1, 2, 3, 4),
gq AS MATERIALIZED (SELECT ga, gb FROM gpairs
                    WHERE common * 1.0 / (na + nb - common) >= 0.2),
edges AS MATERIALIZED (
  SELECT least(ua.da, ub.db) AS doc_a, greatest(ua.da, ub.db) AS doc_b
  FROM gq q JOIN g a ON a.gid = q.ga JOIN g b ON b.gid = q.gb,
       UNNEST(a.docs) AS ua(da), UNNEST(b.docs) AS ub(db)
  UNION ALL
  SELECT ua.da, ub.db FROM g, UNNEST(docs) AS ua(da), UNNEST(docs) AS ub(db)
  WHERE ua.da < ub.db
),
und0 AS MATERIALIZED (SELECT doc_a a, doc_b b FROM edges UNION SELECT doc_b, doc_a FROM edges)
"""

CC_ORACLE_ROUNDS = 8


def _cc_star_cte_chain(n_rounds: int = CC_ORACLE_ROUNDS) -> str:
    """Bounded-round large-star/small-star replay of the Spark
    ``connected_components_star`` rounds as chained CTEs, ending in
    ``comp(node, component)``.

    Replaces the recursive-CTE transitive closure (r6 verdict item 5): the
    ``rch`` closure materializes O(sum |component|^2) (node, label) rows —
    SUPER-LINEAR in the corpus on clone-dense data — and was ~80 % of the
    sf3 rehearsal batch wall (41:45 for dedup_keep_best alone). The star
    replay is the same fixed-round discipline the PageRank oracle uses:
    each round is two group-min + join passes over a LINEAR edge set that
    only contracts, so oracle cost scales with the engine's. Rounds past
    the fixpoint are identity (the convergence criterion IS edge-set
    stability, ``connected_components_star``), so any n_rounds >= the
    engine's convergence round yields the identical labeling — and an
    UNDER-provisioned round count diverges from Spark and fails the
    hash gate loudly rather than silently. n_rounds=8 covers chain
    components up to ~2^8 hops — far past anything a 0.2-Jaccard
    threshold graph produces (sf3's adversarial 30-clone groups are
    cliques: 2 rounds)."""
    ctes = [
        "e0 AS MATERIALIZED (SELECT DISTINCT greatest(a, b) u, least(a, b) v"
        " FROM und0 WHERE a <> b)"
    ]
    for t in range(n_rounds):
        # every multi-referenced CTE is MATERIALIZED: DuckDB inlines plain
        # CTEs per reference, so an unmarked u{t}/so{t} would execute twice
        # per round (the union-of-selects re-execution failure mode)
        ctes.append(
            f"""u{t} AS MATERIALIZED (SELECT u a, v b FROM e{t} UNION SELECT v, u FROM e{t}),
lm{t} AS (SELECT a, least(a, min(b)) m FROM u{t} GROUP BY a),
ls{t} AS MATERIALIZED (SELECT DISTINCT n.b u, mn.m v
        FROM u{t} n JOIN lm{t} mn USING (a) WHERE n.b > n.a AND n.b <> mn.m),
so{t} AS MATERIALIZED (SELECT DISTINCT greatest(u, v) a, least(u, v) b FROM ls{t}),
sm{t} AS MATERIALIZED (SELECT a, min(b) m FROM so{t} GROUP BY a),
e{t + 1} AS MATERIALIZED (SELECT DISTINCT u, v FROM (
    SELECT o.b u, mn.m v FROM so{t} o JOIN sm{t} mn USING (a)
    UNION ALL SELECT a, m FROM sm{t}) WHERE u <> v)"""
        )
    ctes.append(
        f"""nodes AS (SELECT DISTINCT a AS node FROM und0),
-- fixpoint assertion (r7 ADVICE): rounds past convergence are identity, so
-- e{n_rounds} == e{n_rounds - 1} iff CC_ORACLE_ROUNDS was enough. If not, error()
-- HERE so an under-provisioned round count surfaces as a loud ORACLE
-- failure, never a confusing engine hash-mismatch (both e-sets are
-- MATERIALIZED and distinct, so equal count + empty one-way EXCEPT
-- proves set equality with two linear scans)
fixpoint AS (SELECT CASE WHEN
    (SELECT count(*) FROM e{n_rounds}) = (SELECT count(*) FROM e{n_rounds - 1})
    AND NOT EXISTS (SELECT 1 FROM (SELECT u, v FROM e{n_rounds}
                                   EXCEPT SELECT u, v FROM e{n_rounds - 1}))
  THEN 1 ELSE error('CC oracle: CC_ORACLE_ROUNDS={n_rounds} did not reach '
                    'edge-set fixpoint — raise the round count (oracle '
                    'problem, not an engine mismatch)') END AS ok),
mapping AS (SELECT u AS node, min(v) AS component FROM e{n_rounds} GROUP BY u),
comp AS (SELECT n.node, COALESCE(m.component, n.node) AS component
         FROM nodes n LEFT JOIN mapping m USING (node)
         WHERE (SELECT ok FROM fixpoint) = 1)"""
    )
    return _CC_EDGE_CTES + ",\n" + ",\n".join(ctes)


_CC_CTES = _cc_star_cte_chain()

# Shared-oracle-prefix declaration (r8 verdict item 2): the four CC-chain
# entries' oracles all start with the identical _CC_CTES chain (shingles ->
# posting join -> jaccard edges -> 8 star rounds -> comp) and differ only in
# the projection after it. Re-deriving that prefix per entry cost ~22 min
# EACH at sf3 (rehearsal_sf3_cc_r8.json: 5,365 s for 4 entries) — pure
# oracle resource burn, the engine side already shares its edge relation
# within an entry via persist. The parity harness (tests/oracle_harness.py) materializes
# any declared prefix ONCE per (connection, sf_dir) as a temp table and
# rewrites each entry's oracle to read the final CTE from it; labels are
# deterministic so hashes are unchanged, and the in-chain fixpoint assertion
# now also runs once instead of four times (r8 verdict item 6a). The
# oracle_sql() strings stay self-contained for the external driver.
# Tuple shape: (prefix_sql, final_cte_name, final_cte_columns).
ORACLE_SHARED_PREFIXES = [(_CC_CTES, "comp", "node, component")]

_CC_SQL = _CC_CTES + "\nSELECT node, component FROM comp"

_KEEP_SQL = (
    _CC_CTES
    + """
SELECT d.doc_id,
       COALESCE(c.component, d.doc_id) AS canonical_id,
       d.doc_id = COALESCE(c.component, d.doc_id) AS keep
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""
)


def semantic_dedup_canonical(
    vecs: DataFrame, threshold: float = 0.98, id_col: str = "vec_id"
) -> DataFrame:
    """End-to-end semantic dedup: embedding near-dup pairs (LSH-bucketed
    candidates, exact cosine verify) -> connected components -> one
    canonical id per cluster. Returns (vec_id, canonical_id, cluster_size);
    vectors with no near-dup edge are their own canonical (size 1). This is
    the delete-list generator a training pipeline runs over the embedded
    corpus: keep rows where vec_id == canonical_id."""
    from mta_rtf_dbt_spark.operators.similarity import embedding_near_dup_pairs

    edges = embedding_near_dup_pairs(vecs, threshold=threshold)
    comp = connected_components(edges, "vec_a", "vec_b")
    ids = vecs.select(F.col(id_col).alias("node"))
    labeled = ids.join(comp, "node", "left").select(
        F.col("node").alias(id_col),
        F.coalesce(F.col("component"), F.col("node")).alias("canonical_id"),
    )
    sizes = labeled.groupBy("canonical_id").agg(F.count("*").alias("cluster_size"))
    return labeled.join(sizes, "canonical_id").select(
        id_col, "canonical_id", "cluster_size"
    )


def doc_jaccard_components(
    docs: DataFrame, threshold: float = 0.2, max_posting: int | None = 1000
) -> DataFrame:
    """comp(node, component) of the exact-Jaccard near-dup graph, computed
    on the exact-duplicate-CONTRACTED graph (r9 sf10 rehearsal finding).

    Docs with identical capped shingle sets form a clique at Jaccard 1.0;
    running star rounds over those cliques shuffles O(clones^2) edge rows
    per round — 62 GB of local shuffle at the sf10 rehearsal's 100-clone
    density. Instead: contract each identical-set group to one vertex
    (``dedup.jaccard_group_graph``), run CC on the cross-group edges only,
    and expand labels to members. Labeling is unchanged: a group's gid is
    the min doc_id of its members, so min-gid-reachable on the contracted
    graph equals min-doc-reachable on the expanded graph; isolated groups
    of size >= 2 label themselves gid (their clique's min); isolated
    singletons have no edges and are excluded, exactly as
    ``connected_components`` excludes isolated nodes."""
    # The contraction treats identical-set groups as intra-cluster cliques,
    # which is only sound when within-group Jaccard (exactly 1.0) meets the
    # threshold — fail loudly rather than mislabel (r9 ADVICE).
    if not threshold <= 1.0:
        raise ValueError(
            f"doc_jaccard_components: threshold {threshold} > 1.0 breaks the "
            "identical-set clique contraction (within-group Jaccard is 1.0)"
        )
    from mta_rtf_dbt_spark.operators.dedup import jaccard_group_graph_sets

    # Array-form group build (r12): per-doc shingle SETS stay a column and
    # the hot cap is an in-plan array_except, skipping the exploded
    # relation's full-payload groupBy(doc_id) exchange — identical groups
    # (see jaccard_group_graph_sets; A/B'd at sf0.1 and clone-dense sf3).
    groups, gq = jaccard_group_graph_sets(docs, threshold, max_posting)
    comp_g = connected_components(gq.select("ga", "gb"), "ga", "gb")
    # comp is a tiny (node, component) labeling (cluster members only) that
    # every caller fans out into 2+ subtrees (labeled -> reps + final join);
    # a lazy persist dedupes the whole groups-join-expansion subtree across
    # them at zero extra jobs (r11 — the keep_best after-plan had grown the
    # un-persisted expansion twice).
    return persist(
        groups.join(comp_g.withColumnRenamed("node", "gid"), "gid", "left")
        .filter(F.col("component").isNotNull() | (F.size("docs") >= 2))
        .select(
            F.explode("docs").alias("node"),
            F.coalesce("component", "gid").alias("component"),
        )
    )


@q("dedup_connected_components", _CC_SQL)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster the exact-Jaccard near-dup pairs (>= 0.2) into components.
    Engine: exact-duplicate-contracted star rounds (doc_jaccard_components).
    Oracle: bounded-round large-star/small-star replay over the same edges
    (``_cc_star_cte_chain``) — same labeling, linear per-round cost."""
    return doc_jaccard_components(load(spark, sf_dir, "documents"))


def dedup_keep_list_frame(
    docs: DataFrame,
    edges: DataFrame | None,
    id_col: str = "doc_id",
    comp: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, canonical_id, keep): the delete-list a dedup pipeline
    executes. Every doc maps to its cluster's min doc_id (itself when it has
    no near-dup edge); ``keep`` marks the one canonical doc per cluster.
    Deleting ``NOT keep`` rows removes every transitive near-dup while
    keeping exactly one representative. Pass ``comp`` (a (node, component)
    labeling) to reuse a contracted clustering instead of re-running CC on
    an expanded edge list."""
    if comp is None:
        comp = connected_components(edges, "doc_a", "doc_b")
    ids = docs.select(F.col(id_col).alias("node"))
    return ids.join(comp, "node", "left").select(
        F.col("node").alias(id_col),
        F.coalesce(F.col("component"), F.col("node")).alias("canonical_id"),
        (F.col("node") == F.coalesce(F.col("component"), F.col("node"))).alias("keep"),
    )


# ---------------------------------------------------------------------------
# PageRank — the second iterative-graph member (CC's sibling): fixed-round,
# integer-arithmetic, hence engine-reproducible and fully oracle-checkable.
# ---------------------------------------------------------------------------
PR_SCALE = 10**12
PR_ITERS = 3


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = PR_ITERS,
    scale: int = PR_SCALE,
) -> DataFrame:
    """(node, rank_scaled): PageRank with damping 0.85 over a directed edge
    set, ``n_iter`` fixed rounds, ALL arithmetic in scaled integers so the
    result is bit-identical on any engine (float summation order can never
    drift the hash — the same micro-integerization discipline as
    ``operators.lm``):

        r0(v)  = S div N
        D      = sum of r over dangling nodes (no out-edges)
        r'(v)  = (15*(S div N) + 85*(contrib(v) + D div N)) div 100
        contrib(v) = sum over u->v of r(u) div outdeg(u)

    Scale shape per round: one equi-shuffle join of edges-with-ranks plus a
    map-combined sum — the same cost as one CC round. The dangling mass D
    stays in-plan as a broadcast 1-row aggregate (no per-round driver
    collect); the only driver scalar is N, computed once. Lineage is cut
    per round (localCheckpoint), the standard iteration discipline."""
    # LAZY persist (r11): the nd checkpoint right below executes e's
    # pipeline once (populating this cache), and every later consumer —
    # one contrib join per round — reads e exactly once per job, so there
    # is no concurrent-recompute window; the former eager count was a
    # whole extra materialization pass over the join+distinct.
    #
    # Pre-partitioned by src (r12, guide §2.4): InMemoryRelation preserves
    # its child's output partitioning, so every round's contrib join finds
    # the edge side already hashpartitioned(src) and exchanges only the
    # |V|-sized rank projection — the former plan re-shuffled the cached
    # |E|-row edge set once per round. Width = the session's shuffle
    # partitioning (scale-adaptive, not a local constant). Interleaved A/B
    # at sf0.1: 2.73/3.22 -> 2.05/2.15 s (min/median), identical ranks.
    n_shuffle = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    e = persist(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .repartition(n_shuffle, "src")
    )
    # One pass computes the node universe AND out-degrees together (r6 —
    # formerly a union-distinct plus a separate count agg, two shuffles):
    # each edge contributes (src, 1) and (dst, 0); summing the flag per
    # node yields od, with od = 0 marking dangling nodes. The static od
    # column then RIDES INSIDE the rank relation for every round, so the
    # per-round dangling mass is a filter + 1-row agg on the already-
    # checkpointed ranks (the former per-round anti-join against outdeg is
    # gone), and contrib divides by the source row's own od after joining
    # the PLAIN edge list (the former edges-with-outdeg join + checkpoint
    # is gone too). Two fewer setup materializations and one less
    # per-round shuffle at any scale; every integer is unchanged.
    nd = (
        e.selectExpr("explode(array(struct(src AS node, 1 AS f), struct(dst AS node, 0 AS f))) AS x")
        .groupBy(F.col("x.node").alias("node"))
        .agg(F.sum("x.f").cast("long").alias("od"))
        .localCheckpoint(eager=False)  # the count below materializes it
    )
    n_nodes = nd.count()
    base = scale // n_nodes
    ranks = nd.withColumn("r", F.lit(base).cast("long"))
    for _ in range(n_iter):
        dangling = ranks.filter(F.col("od") == 0).agg(
            F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("d")
        )
        # Project (and divide) BEFORE the join (r12, guide §2.3): the
        # per-source quotient r div od is constant per src, so it is
        # computed |V| times instead of once per edge, and the rank-side
        # exchange carries (src, rc) instead of (src, od, r). od = 0 rows
        # can never match the join (src in e implies od >= 1), so the
        # filter is exact.
        rc = ranks.filter(F.col("od") > 0).select(
            F.col("node").alias("src"), F.expr("r div od").alias("rc")
        )
        contrib = (
            e.join(rc, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("rc").cast("long").alias("c"))
        )
        ranks = (
            nd.join(contrib, "node", "left")
            .crossJoin(dangling)
            .select(
                "node",
                "od",
                F.expr(
                    f"CAST((15 * {base}L + 85 * (coalesce(c, 0L) + d div {n_nodes}L))"
                    " div 100 AS BIGINT)"
                ).alias("r"),
            )
            # lazy lineage cut (r11): the next round's first job (or the
            # caller's action after the last round) materializes this
            # round's ranks — one job per round instead of two, same
            # caches, identical integers.
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", F.col("r").alias("rank_scaled"))


def _pagerank_oracle_sql(n_iter: int = PR_ITERS, scale: int = PR_SCALE) -> str:
    """Replays every round as chained CTEs over the same integer formula."""
    ctes = [
        """edges AS MATERIALIZED (SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
                 FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)""",
        "nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "outdeg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS od FROM edges GROUP BY 1)",
        "nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes)",
        f"r0 AS MATERIALIZED (SELECT node, CAST({scale} // (SELECT n FROM nn) AS BIGINT) AS r FROM nodes)",
    ]
    for t in range(n_iter):
        ctes.append(
            f"""d{t} AS MATERIALIZED (SELECT COALESCE(CAST(SUM(r) AS BIGINT), 0) AS d
                 FROM r{t} LEFT JOIN outdeg ON node = src WHERE od IS NULL)"""
        )
        ctes.append(
            f"""c{t} AS MATERIALIZED (SELECT e.dst AS node, CAST(SUM(r.r // o.od) AS BIGINT) AS c
                 FROM edges e JOIN r{t} r ON r.node = e.src JOIN outdeg o ON o.src = e.src
                 GROUP BY 1)"""
        )
        ctes.append(
            f"""r{t + 1} AS MATERIALIZED (SELECT n2.node,
                 CAST((15 * ({scale} // (SELECT n FROM nn))
                       + 85 * (COALESCE(c.c, 0) + (SELECT d FROM d{t}) // (SELECT n FROM nn)))
                      // 100 AS BIGINT) AS r
                 FROM nodes n2 LEFT JOIN c{t} c USING (node))"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, r AS rank_scaled FROM r{n_iter}"
    )


@q("graph_pagerank", _pagerank_oracle_sql())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer->supplier endorsement graph (an edge per
    distinct (customer, supplier) trade pair; node ids parity-tagged so the
    two key spaces can't collide). Suppliers are all dangling — the entry
    exercises the dangling-mass redistribution path every round. Oracle:
    the same fixed-round integer recurrence as chained CTEs."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    edges = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
    )
    return pagerank(edges)


@q("dedup_keep_list", _KEEP_SQL)
def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end text dedup deliverable: exact-Jaccard near-dup pairs
    (>= 0.2) -> connected components -> one keep per cluster, every corpus
    doc present. Oracle: the bounded-round star-replay CC chain extended
    with the same canonical/keep projection."""
    docs = load(spark, sf_dir, "documents")
    return dedup_keep_list_frame(docs, None, comp=doc_jaccard_components(docs))


_KEEP_BEST_SQL = (
    _CC_CTES
    + """,
labeled AS MATERIALIZED (
  SELECT d.doc_id, d.n_chars, COALESCE(c.component, d.doc_id) AS canonical_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
),
reps AS (
  SELECT canonical_id,
         arg_max(doc_id, n_chars * 1000000000 - doc_id) AS rep_id
  FROM labeled GROUP BY canonical_id
)
SELECT l.doc_id, l.canonical_id, r.rep_id, l.doc_id = r.rep_id AS keep
FROM labeled l JOIN reps r USING (canonical_id)
"""
)


@q("dedup_keep_best", _KEEP_BEST_SQL)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster representatives: same near-dup clusters as
    dedup_keep_list, but the survivor is the BEST doc per cluster (longest
    text, doc_id as tiebreak) instead of the smallest id — the policy real
    curation pipelines want, since near-dup clusters usually contain one
    full document plus truncated or boilerplate-wrapped copies. The argmax
    is ``max_by`` over the injective integer key n_chars*1e9 - doc_id
    (strictly unique, so the pick is deterministic per D4 discipline and
    the oracle's arg_max matches exactly).

    Scale: one map-combined argmax per cluster riding the canonical-id
    shuffle, then a join of cluster-count rows back onto the labeled
    corpus — no new corpus-sized shuffle beyond keep_list's."""
    docs = load(spark, sf_dir, "documents")
    comp = doc_jaccard_components(docs)
    labeled = (
        docs.select("doc_id", "n_chars")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("canonical_id"),
        )
    )
    reps = labeled.groupBy("canonical_id").agg(
        F.max_by(
            "doc_id", F.col("n_chars") * F.lit(1_000_000_000) - F.col("doc_id")
        ).alias("rep_id")
    )
    return labeled.join(reps, "canonical_id").select(
        "doc_id",
        "canonical_id",
        "rep_id",
        (F.col("doc_id") == F.col("rep_id")).alias("keep"),
    )


_CLUSTER_STATS_SQL = (
    _CC_CTES
    + """,
labeled AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS canonical_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
),
sizes AS (SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
          FROM labeled GROUP BY 1)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
"""
)


@q("dedup_cluster_stats", _CLUSTER_STATS_SQL)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size distribution of the near-dup graph (singletons
    included) — the dedup AUDIT chart: how much of the corpus sits in
    2-doc pairs vs giant boilerplate clusters decides whether keep-one
    dedup is safe or a template family needs its own handling. Two
    map-combined aggregates over the keep-list labeling; the distribution
    is bucket-count-sized output."""
    docs = load(spark, sf_dir, "documents")
    comp = doc_jaccard_components(docs)
    labeled = (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            F.coalesce(F.col("component"), F.col("doc_id")).alias("canonical_id")
        )
    )
    sizes = labeled.groupBy("canonical_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    )


# Shared oracle prefix for both triangle entries: canonical co-purchase
# edges -> degrees -> degree-(deg, id)-oriented edge relation, materialized
# ONCE per sf_dir by the harness's fingerprint-keyed parquet cache (same
# mechanism as the CC chain). Two reasons it must be a cached prefix, both
# learned at scale rehearsals:
#   1. The r9 sf10 oracle (undirected triple-join) was kernel-OOM-killed at
#      110 GB when DuckDB built a hash table on the ~4B-row wedge stream.
#      The r9->r10 list_intersect adjacency form fixed the build side but
#      replaced it with a worse cliff: per-edge list copies drove a 98 GB
#      RSS / 1-core grind at sf10 (>30 min, unfinished) and >50 GiB of
#      spill under a 60 GB memory cap. Lists are the wrong representation
#      for a 119M-edge probe.
#   2. The plain relational wedge probe (oriented x oriented closed against
#      the canonical edge set) is fast and memory-bounded (sf3: 208 s,
#      hash tables only on O(edges) relations) — but ONLY when the
#      optimizer knows the true cardinalities: as an inline CTE DuckDB
#      estimates the wedge stream at ~0 rows and de-correlates EXISTS into
#      a RIGHT_SEMI delim-join that builds ON the wedges (the r9 mode
#      again). Reading `oriented` from the cached parquet gives the
#      planner real row counts and it builds on the edge relations.
_TRI_PREFIX = """
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
             greatest(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    predeg AS (
      SELECT x AS node, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT u AS x FROM pairs UNION ALL SELECT v FROM pairs) GROUP BY 1
    ),
    oriented AS MATERIALIZED (
      SELECT CASE WHEN (du.deg < dv.deg OR (du.deg = dv.deg AND p.u < p.v))
                  THEN p.u ELSE p.v END AS src,
             CASE WHEN (du.deg < dv.deg OR (du.deg = dv.deg AND p.u < p.v))
                  THEN p.v ELSE p.u END AS dst
      FROM pairs p JOIN predeg du ON du.node = p.u JOIN predeg dv ON dv.node = p.v
    )"""

ORACLE_SHARED_PREFIXES.append((_TRI_PREFIX, "oriented", "src, dst"))

# Forward-algorithm wedge probe: each triangle is found once at its
# lowest-(deg, id)-rank vertex as a pair of its oriented out-edges whose
# far endpoints are themselves adjacent; the closing-edge join probes the
# canonical (u < v) relation re-derived from `oriented` (every undirected
# edge appears in `oriented` exactly once, so cpairs == pairs row-for-row).
# Wedges exist only as the probe pipeline — never a join input, never
# materialized. The engine computes the identical quantity via broadcast
# adjacency-array intersection; the oracle's wedge probe is the DuckDB-
# native equivalent (single-machine hash probes beat list allocation).
_TRIANGLE_SQL = (
    _TRI_PREFIX
    + """,
    cpairs AS MATERIALIZED (
      SELECT least(src, dst) AS u, greatest(src, dst) AS v FROM oriented
    ),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM oriented e1
      JOIN oriented e2 ON e2.src = e1.src AND e2.dst > e1.dst
      JOIN cpairs p ON p.u = least(e1.dst, e2.dst)
                   AND p.v = greatest(e1.dst, e2.dst)
    ),
    ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM oriented),
    nn AS (SELECT CAST(count(DISTINCT x) AS BIGINT) AS n_nodes
           FROM (SELECT src AS x FROM oriented UNION ALL SELECT dst FROM oriented))
    SELECT n_triangles, n_edges, n_nodes
    FROM tri, ne, nn
    """
)


def _copurchase_pairs(spark: SparkSession, sf_dir: str, eager: bool = True) -> DataFrame:
    """Canonical (u < v) edge relation of the part co-purchase graph:
    parts sharing an order are linked. Per-order basket combos (r11):
    collect each order's sorted distinct part set with one map-combined
    aggregate, emit its C(k, 2) ordered combinations as a narrow array
    expression, and dedup. The former per-order self-join shuffled the
    lineitem projection once and SORTED it twice for the sort-merge join;
    this shape pays one partial-aggregated exchange and no join at all —
    combos-per-order is C(basket, 2), exactly the rows the join emitted,
    and baskets are small so the per-row expansion is bounded (same skew
    envelope as the join). Measured sf0.1 warm: 1.61 s -> 1.34 s, pair
    set identical. Persisted — both triangle operators read it thrice.
    ``eager=False`` lets a caller that immediately runs its own single-
    subtree materializing action (graph_triangles' fused stats pass, r12)
    skip the dedicated count job."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") >= 2)
    )
    combos = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("parts"), i + F.lit(2), F.size(F.col("parts")) - i - F.lit(1)
                ),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(combos).alias("c")).select("c.u", "c.v").distinct()
    )
    return persist(pairs, eager=eager)


def _degrees(pairs: DataFrame) -> DataFrame:
    """(node, deg) over the canonical (u < v) edge relation. Shared subtree:
    every consumer in one plan spells it identically so ReusedExchange
    serves all of them from a single shuffle of the edge set."""
    return (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


# Broadcast budget for the oriented adjacency relation (bytes, estimated).
# Spark's hard BroadcastExchange ceiling is 8 GB / 512M rows; the default
# here leaves headroom for UnsafeRow overhead on top of the 8 B/element
# payload estimate. Env-overridable for bigger-memory hosts.
ADJ_BROADCAST_MAX = int(os.environ.get("GRAFT_ADJ_BROADCAST_MAX", 4_000_000_000))


def _edge_triangles(pairs: DataFrame, n_edges: int | None = None) -> DataFrame:
    """Per-edge triangle closings via the adjacency-intersect FORWARD
    algorithm — wedges are NEVER materialized as rows (r9 verdict item 1).

    Each undirected edge is oriented from its lower-(degree, id) endpoint
    to its higher one; ``N+(x)`` is x's oriented out-neighborhood. Every
    triangle x, y, z (ranked x < y < z) is found exactly once at oriented
    edge (x, y) as ``z in N+(x) ∩ N+(y)``. Returns ``(u, v, zs)`` where
    ``zs`` is the (possibly empty) sorted array of closing vertices —
    ``sum(size(zs))`` is the exact triangle count and the (u, v, z) credit
    expansion is O(edges + triangles) rows.

    Why this beats the wedge stream it replaces: the former plan
    materialized sum_u C(out_deg_u, 2) wedge ROWS and shuffled them to meet
    the closing edge — SUPER-LINEAR in edges, and no repartition width
    fixes byte volume (the r9 sf10 rehearsal wrote >35 GB of wedge shuffle
    and died on ENOSPC). Here the only wide shuffles are O(edges): the
    degree joins and the adjacency-list groupBy. The per-edge intersect
    runs inside one stage over broadcast adjacency — each array is
    O(sqrt(m)) long by the degree-orientation/arboricity bound, so the
    row-at-a-time ``array_intersect`` is cheap and skew-proof.

    Adjacency broadcast is O(edges) bytes total (every oriented edge
    appears in exactly one list), and it is materialized EXACTLY ONCE by
    construction (r11): the probe side is ``explode(adj)`` — the oriented
    edge stream recovered from the persisted adjacency itself, pipelined
    in the same stage as the intersect — so the plan needs ONE broadcast
    join, not two. (The previous two-join shape hinted the same adjacency
    twice and relied on exchange reuse; under AQE the stage cache never
    matched the pair, so sf10 runs paid the aggregate, its shuffle, and
    the ~3 GB driver-side broadcast collect TWICE — found while pinning
    the r10 ADVICE reuse assumption.) The per-row ``nb_u`` carried by the
    explode is O(sum out_deg^2) bytes, but it lives only inside the
    whole-stage pipeline — it never hits an exchange on the broadcast
    path.

    When the estimate exceeds ``ADJ_BROADCAST_MAX`` the same plan runs as
    a shuffle join: the exploded probe's exchange carries those
    O(sum out_deg^2) <= m^1.5 bytes — super-linear, but spread across a
    cluster's aggregate shuffle disks rather than one host's /tmp, and
    bounded per-key by the same sqrt(m) orientation bound. The warning
    makes the regime change loud.
    """
    # Size the broadcast from the cheap persisted-edge count (pairs is
    # caller-persisted; |oriented| == |pairs|): payload is 8 B/element * E
    # plus per-row overhead (~24 B * V <= 24 B * E). The budget sizes ONE
    # exchange and the plan materializes one by construction — pinned by
    # tests/test_graph.py::test_graph_triangles_plan_is_broadcast.
    if n_edges is None:
        n_edges = pairs.count()
    est_bytes = n_edges * 32
    deg = _degrees(pairs)
    # Orient each edge toward the higher-(degree, id) endpoint. Both degree
    # lookups ride ONE equi-join each. The degree relation (24 B * |V| <=
    # 32 B * |E| = est_bytes) is broadcast EXPLICITLY whenever the strictly
    # larger adjacency broadcast below fits the same budget (r12): the
    # static planner only sees size estimates and picked SortMergeJoin —
    # two full exchanges + sorts of the edge set — and AQE's runtime
    # conversion still pays the edge-set shuffle it re-plans from.
    # Isolated A/B at sf0.1 (orient->adjacency, min of 3): SMJ 1.74 s vs
    # broadcast 1.50 s. deg is NOT persisted: each broadcast build runs the
    # small |V| aggregate itself — an eager persist + count was measured
    # 0.6 s WORSE end-to-end (two extra driver jobs dwarf the duplicated
    # tiny aggregate; same lesson as the r11 n_nodes ReusedExchange note).
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    # graph_triangles: without it a sort-merge join replaces the broadcast join.
    if est_bytes <= ADJ_BROADCAST_MAX:
        du, dv = F.broadcast(du), F.broadcast(dv)
    lower_first = F.expr("du < dv OR (du = dv AND u < v)")
    oriented = (
        pairs.join(du, "u").join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    # The adjacency relation is the ONLY persisted intermediate: both the
    # probe (explode) and the build (broadcast) read this one cache, so
    # the groupBy shuffle and the collect_list aggregate run once. On the
    # broadcast path the persist is LAZY (r11): the probe stage DEPENDS on
    # the adjacency broadcast, so AQE materializes the broadcast stage
    # first — populating the cache for the probe with no race — and the
    # former eager count was one whole extra materialization pass. The
    # shuffle-join fallback keeps the eager count: there both join sides
    # read the cache through genuinely concurrent stages.
    adj = persist(
        oriented.groupBy("src").agg(F.sort_array(F.collect_list("dst")).alias("nb")),
        eager=est_bytes > ADJ_BROADCAST_MAX,
    )
    # graph_triangles: without it a sort-merge join replaces the broadcast join.
    if est_bytes <= ADJ_BROADCAST_MAX:
        av = F.broadcast(adj)
    else:
        import warnings

        warnings.warn(
            f"_edge_triangles: adjacency estimate {est_bytes / 1e9:.1f} GB "
            f"exceeds GRAFT_ADJ_BROADCAST_MAX={ADJ_BROADCAST_MAX / 1e9:.1f} GB"
            " — falling back to a shuffle join (O(sum out_deg^2) exchange "
            "bytes; fine on cluster aggregate disk, heavy on one host)",
            stacklevel=2,
        )
        av = adj
    av = av.select(F.col("src").alias("v"), F.col("nb").alias("nb_v"))
    # Probe = the adjacency exploded back into oriented edges, carrying
    # each edge's nb_u down the pipeline for free (no second join, no
    # second exchange). Inner join: a dst with no out-edges closes no
    # triangle, so dropping its edges is exact.
    probe = adj.select(
        F.col("src").alias("u"),
        F.explode("nb").alias("v"),
        F.col("nb").alias("nb_u"),
    )
    return probe.join(av, "v").select(
        "u", "v", F.array_intersect("nb_u", "nb_v").alias("zs")
    )


@q("graph_triangles", _TRIANGLE_SQL)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting over the part co-purchase graph — the
    clustering-coefficient numerator and the third iterative-graph member
    next to CC and PageRank. Enumeration lives in ``_edge_triangles``
    (adjacency-intersect forward algorithm, r9 verdict item 1): triangles
    are counted per edge as the intersection size of the endpoints'
    degree-oriented out-neighborhoods — wedges never become rows, so the
    only wide shuffles are O(edges)."""
    pairs = _copurchase_pairs(spark, sf_dir, eager=False)
    # ONE fused stats pass (r12) replaces three jobs/branches: the eager
    # persist count, the n_edges crossJoin branch, and the n_nodes
    # countDistinct branch (whose union re-scanned the cache twice). The
    # explode action materializes the lazy persist (single subtree, no
    # concurrent-recompute window); count(*) over both endpoints is exactly
    # 2*|E|, and countDistinct is the node set — the same values the
    # crossJoin branches computed, now emitted as driver literals
    # (recomputed from the parquet inputs on every invocation; nothing is
    # memoized). r11's lesson (deg-based n_nodes +1.2 s: ReusedExchange
    # never fired across branches) stands — this shares by running ONE
    # aggregate, not by hoping two branches dedupe.
    stats = (
        pairs.select(F.explode(F.array("u", "v")).alias("x"))
        .agg(
            F.count(F.lit(1)).alias("ends"),
            F.countDistinct("x").alias("nn"),
        )
        .first()
    )
    n_edges, n_nodes = int(stats.ends) // 2, int(stats.nn)
    tri = _edge_triangles(pairs, n_edges=n_edges).agg(
        F.coalesce(F.sum(F.size("zs")), F.lit(0)).cast("long").alias("n_triangles")
    )
    return tri.select(
        "n_triangles",
        F.lit(n_edges).cast("long").alias("n_edges"),
        F.lit(n_nodes).cast("long").alias("n_nodes"),
    )


# Same cached-prefix wedge probe as _TRIANGLE_SQL; each closed wedge
# (a, b, c) credits all three vertices via one streaming unnest pass
# (O(triangles) generated rows). deg is re-derived from `oriented` (one
# row per undirected edge, so src/dst union == pairs' u/v union).
_CLUSTER_COEFF_SQL = (
    _TRI_PREFIX
    + """,
    deg AS (
      SELECT x AS node, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT src AS x FROM oriented UNION ALL SELECT dst FROM oriented)
      GROUP BY 1
    ),
    cpairs AS MATERIALIZED (
      SELECT least(src, dst) AS u, greatest(src, dst) AS v FROM oriented
    ),
    closed AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM oriented e1
      JOIN oriented e2 ON e2.src = e1.src AND e2.dst > e1.dst
      JOIN cpairs p ON p.u = least(e1.dst, e2.dst)
                   AND p.v = greatest(e1.dst, e2.dst)
    ),
    per_node AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
      FROM (SELECT unnest([a, b, c]) AS node FROM closed)
      GROUP BY 1
    )
    SELECT d.node, d.deg,
           COALESCE(p.n_triangles, 0) AS n_triangles,
           CAST(d.deg * (d.deg - 1) // 2 AS BIGINT) AS n_wedges
    FROM deg d LEFT JOIN per_node p ON p.node = d.node
    """
)


@q("graph_clustering_coeff", _CLUSTER_COEFF_SQL)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the co-purchase graph,
    released as the exact integer fraction (n_triangles, n_wedges =
    deg·(deg−1)/2) — the consumer divides; nothing floats. Triangles come
    from ``_edge_triangles`` (adjacency-intersect, r9 verdict item 1) and
    are credited to all three vertices in ONE pipelined pass: each per-edge
    row (u, v, zs) contributes (u, |zs|), (v, |zs|), and (z, 1) per closing
    vertex via a single explode of a concatenated struct array feeding the
    map-side-combined aggregate — O(edges + triangles) generated rows, no
    wedge relation, no branch re-execution."""
    pairs = _copurchase_pairs(spark, sf_dir)
    deg = _degrees(pairs).select("node", F.col("deg").cast("long").alias("deg"))
    etri = _edge_triangles(pairs).filter(F.size("zs") > 0)
    t = F.size("zs").cast("long")
    contrib = etri.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(F.col("u").cast("long").alias("node"), t.alias("t")),
                    F.struct(F.col("v").cast("long").alias("node"), t.alias("t")),
                ),
                F.transform(
                    "zs",
                    lambda z: F.struct(
                        z.cast("long").alias("node"),
                        F.lit(1).cast("long").alias("t"),
                    ),
                ),
            )
        ).alias("c")
    ).select("c.node", "c.t")
    per_node = contrib.groupBy("node").agg(
        F.sum("t").cast("long").alias("n_triangles")
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        "deg",
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
        F.expr("CAST(deg * (deg - 1) div 2 AS BIGINT)").alias("n_wedges"),
    )

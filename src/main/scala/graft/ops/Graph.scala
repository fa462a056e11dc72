package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over pair lists. The CONVERGENCE loops
  * ([[kcore]], [[truss]]) use the [[Cluster]] driver pattern —
  * re-plan per round, cut lineage with localCheckpoint, probe with an
  * O(1)-row action — because their depth is data-dependent. The
  * FIXED-depth [[pagerank]] does not: its rounds compose lazily into
  * one plan and one job (r15; see the method comment).
  *
  * [[pagerank]] is the iterate-N-times twin of the SQL-unrolled
  * [[SqlOps.pagerankIter]] — same integer-exact step semantics (ranks
  * in micro-units, ⌊r/deg⌋ contributions, ⌊85·Σ/100⌋ damped sums), so
  * the two are equivalence-gated against the same oracle. At scale
  * each round is two bounded shuffles (edges⋈rank on src, contribution
  * aggregate on dst); the edge list is read from its staged artifact,
  * never recomputed per round.
  */
object Graph {

  /** Damped (0.85) PageRank power iteration over an undirected pair
    * list with columns `a`, `b`; ranks start at 1.0 (1e6 micro-units).
    * Every arithmetic step mirrors [[SqlOps.pagerankIter]] bit for
    * bit: per-element FLOOR'd divisions whose true values sit ≥ 1/deg
    * (resp. 1/20) from the next integer when fractional, per-element
    * casts to long BEFORE the sum so partial aggregation is exact
    * integer addition. */
  def pagerank(pairs: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(iters <= 10, s"iters must be <= 10 (lazy plan depth), got $iters")
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // src, dst, deg — consumed by every round: ONE materialization
    // (it also truncates what each round's plan embeds). The former
    // version additionally checkpointed `edges` AND every round's
    // rank — 2 + iters eager job barriers for a FIXED-depth loop
    // whose per-round state is one bounded aggregate. A fixed small
    // iteration count needs no per-round lineage cut: the rounds
    // compose lazily into one plan (depth ∝ iters, fine for the
    // 3-round contract; the require above caps it at 10 — raising it
    // needs a checkpoint cadence), so the whole loop executes as ONE job —
    // 6 jobs → 2 at any scale, and no per-round executor-storage
    // write of the rank iterate (guide §2.4/§5).
    val withDeg = edges.join(deg, "src").localCheckpoint()
    var rank = deg.select(col("src").as("id"), lit(1000000L).as("r"))
    (1 to iters).foreach { _ =>
      rank = withDeg.join(rank, withDeg("src") === rank("id"))
        .groupBy(col("dst"))
        .agg(sum(floor(col("r").cast("double") / col("deg")).cast("long")).as("s"))
        .select(col("dst").as("id"),
          (lit(150000L) +
            floor((lit(85L) * col("s")).cast("double") / lit(1.0e2)).cast("long")).as("r"))
    }
    rank.select(col("id").as("doc_id"), col("r").as("rank_ppm"))
  }

  /** k-core peeling over an undirected pair list with columns `a`,
    * `b`: repeatedly delete nodes of degree < k (with their edges)
    * until the edge set stops shrinking, then report each survivor's
    * degree inside the core. The loop-until-fixpoint twin of the
    * depth-bounded [[SqlOps.kcoreIter]] — once the peel converges,
    * further rounds are no-ops, so both produce identical rows
    * whenever the unrolled depth covers the fixpoint (gated against
    * the same oracle). Per round: one groupBy for degrees and two
    * LEFT SEMI joins to keep edges whose endpoints both survive —
    * bounded shuffles on a monotonically shrinking edge list, the same
    * re-plan-per-round shape as [[Cluster]]; the convergence probe is
    * an O(1)-row driver action on checkpointed data. */
  /** Shared fixpoint driver for the peel loops ([[kcore]] node-degree,
    * [[truss]] edge-support): iterate `step` — which maps the current
    * edge set to (next edge set, a round byproduct) — until the edge
    * COUNT stops changing, checkpointing once per round with an
    * O(1)-row convergence action. The loop FAILS LOUDLY on maxRounds
    * exhaustion instead of returning a mid-peel edge set that
    * silently violates the caller's fixpoint contract (the only
    * symptom would be an oracle hash mismatch with no hint the cap
    * was the cause). Returns the fixpoint edges and the byproduct of
    * the CONVERGING round — computed against an edge set the fixpoint
    * proves unchanged, so callers never pay a post-loop recount. */
  private def peelToFixpoint[S](init: DataFrame, maxRounds: Int, what: String)(
      step: DataFrame => (DataFrame, S)): (DataFrame, Option[S]) = {
    var edges = init.localCheckpoint()
    var nEdges = edges.count()
    var last: Option[S] = None
    var changed = true
    var rounds = 0
    while (changed && rounds < maxRounds) {
      val (next, s) = step(edges)
      val kept = next.localCheckpoint()
      val n = kept.count()
      changed = n != nEdges
      last = Some(s)
      edges = kept
      nEdges = n
      rounds += 1
    }
    require(!changed,
      s"$what: no fixpoint within $maxRounds rounds — raise maxRounds")
    (edges, last)
  }

  def kcore(pairs: DataFrame, k: Int, maxRounds: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val init = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    val (edges, _) = peelToFixpoint(init, maxRounds, "kcore") { e =>
      val alive = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("id"))
        .localCheckpoint() // consumed by BOTH semi joins — build once
      (e.join(alive, e("src") === alive("id"), "left_semi")
        .join(alive, e("dst") === alive("id"), "left_semi"), ())
    }
    edges.groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("doc_id"), col("core_deg"))
  }

  /** k-truss peeling over a CANONICAL pair list (columns `a` < `b`):
    * repeatedly delete every edge in fewer than k−2 triangles until
    * the edge set stops shrinking, then report each surviving edge
    * with its fixpoint support. The loop-until-convergence twin of the
    * depth-bounded [[SqlOps.trussIter]] (the kcore/kcoreIter pairing
    * applied to EDGE peeling) — gated against the same oracle, so the
    * two must produce identical rows whenever the unrolled depth
    * covers the fixpoint. Per round: one symmetric view, one
    * common-neighbor equi-join grouped per edge (Σ_e deg work on a
    * monotonically shrinking edge list — the distributed-truss round).
    * The converging round's support table IS the fixpoint support
    * (it was computed against an edge set the fixpoint test proves
    * unchanged), so the reported counts cost no extra pass. */
  def truss(pairs: DataFrame, k: Int, maxRounds: Int = 50): DataFrame = {
    require(k >= 3, s"k must be >= 3 (edges in >= k-2 triangles), got $k")
    def supported(e: DataFrame): DataFrame = {
      val sym = e.select(col("a").as("x"), col("b").as("y"))
        .union(e.select(col("b").as("x"), col("a").as("y")))
        .localCheckpoint() // consumed by both sides of the wedge join
      e.join(sym.select(col("x").as("a"), col("y").as("w")), Seq("a"))
        .join(sym.select(col("x").as("b"), col("y").as("w")), Seq("b", "w"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    }
    val (edges, lastSup) = peelToFixpoint(
        pairs.select(col("a"), col("b")), maxRounds, "truss") { e =>
      // checkpointed: read twice — the filter below AND the byproduct
      // the converged loop returns as the fixpoint support table
      val sup = supported(e).localCheckpoint()
      (sup.filter(col("support") >= k - 2).select(col("a"), col("b")), sup)
    }
    // a 0-round loop is impossible (changed starts true), but an EMPTY
    // initial edge set converges in one round with an empty sup — both
    // paths read the byproduct
    lastSup.getOrElse(supported(edges))
      .filter(col("support") >= k - 2)
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("support"))
  }
}

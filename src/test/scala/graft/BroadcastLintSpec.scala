package graft

import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

/** Plan lint: a hard-coded `broadcast()` hint is a promise that the
  * hinted frame stays driver-sized at EVERY corpus scale — AQE cannot
  * override a hint, so a hint on a corpus-proportional frame is a
  * latent 100 TB OOM even when the query is green at bench scale.
  * This spec walks the optimized logical plan of EVERY registry query,
  * collects each join input carrying a broadcast hint, and proves it
  * descends from a bounded family:
  *
  *   - a scalar (no-group-by) aggregate — 1 row;
  *   - an explicit LIMIT;
  *   - a literal/local relation (collected probe or candidate sets
  *     re-entering the plan as LocalRelation are bounded by the
  *     documented collect caps where they are built);
  *   - a scan whose only tables are fixed-size by the data model
  *     (nation: 25 rows, region: 5 — they do NOT grow with the corpus);
  *   - an aggregate grouped only by bounded-domain columns (event
  *     types, day-of-week, first digits, ...), whose row count is the
  *     domain size regardless of corpus size;
  *   - a per-group top-K cut (Filter against an integer literal over a
  *     row_number window partitioned by bounded-domain columns).
  *
  * Anything else fails the build — restoring e.g. the round-9 q149
  * `broadcast(parent)` (parents include fact-grain `orders`) or the
  * q119 `broadcast(partCounts)` (one row per distinct part) trips this
  * spec immediately.
  */
class BroadcastLintSpec extends AnyFunSuite with SparkSpec {

  /** Columns whose value domain is fixed by the data model, not the
    * corpus size: an aggregate grouped only by these has O(domain)
    * rows at any scale.
    */
  private val BoundedDomainCols = Set(
    "event_type", // enumerated event vocabulary
    "dow", // 7 days of week
    "digit", // 9 Benford first digits
    "lang", // language codes
    "label", "clabel", // class-label vocabulary (embeddings supervision)
    "dim", // embedding dimension index (fixed vector width)
    "o_orderstatus", "o_orderpriority", "c_mktsegment", // enum columns
    "l_returnflag", // 3-value enum (A/N/R) fixed by the data model
    "bucket_id", "stage", "bin", // fixed literal grids
    "band") // $1000 balance bands: floor of a model-bounded value range

  /** Identifier columns: a `id < K` literal cut selects at most K rows
    * at any corpus scale (the probe/anchor-set construction idiom).
    */
  private val IdCols = Set("vec_id", "doc_id", "query_id", "anchor_id")

  /** Tables that are constant-size by the TPC-H data model. */
  private val FixedTables = Set("nation", "region")

  /** Hints whose frames are bounded by a DOCUMENTED runtime cap rather
    * than plan structure — each entry names the cap that makes the
    * broadcast safe. Adding a query here requires such a cap to exist.
    */
  private val CapJustified: Map[String, String] = Map(
    "q36_dedup_minhash_lsh" ->
      "LSH candidate pairs: band-bucket equi-join output, capped by the documented DedupClusters edge cap; the verify joins broadcast the candidate side only",
    "q37_dedup_simhash" ->
      "SimHash candidate pairs: 16-bit chunk blocking + hamming<=3 cut before the hint; pair frame is the bounded survivor set",
    "q69_decontamination" ->
      "benchmark gram set: grams of the fixed benchmark corpus slice, corpus-independent by construction",
    "q217_conformal_coverage" ->
      "calibration model attach: the hinted model frame is the localCheckpointed aggregate grouped only by o_orderpriority (5-value enum fixed by the data model) — <=5 rows at any corpus size; the n_cal and q-hat hints are scalar aggregates the structural rule already admits",
    "q234_isotonic_calibration" ->
      "PAVA interval grid: every hinted frame derives from the localCheckpointed 10-row decile aggregate (fixed literal decile count) — <=10-row bin/t frames, <=55-row interval frame at any corpus size",
    "q249_stump_split" ->
      "stump argmin rival side: the localCheckpointed candidate frame has one row per DISTINCT per-user pre-period event count — an activity-domain-bounded histogram (corpus growth adds users, not new per-user count values), the same domain argument as the q224/q81 value histograms",
    "q254_mh_odds_ratio" ->
      "MH scalar attach: the hinted frames derive from the localCheckpointed 25-row nation-stratum frame (nation is a fixed-size table) — one scalar count and one 1-row ordered-fold result at any corpus size",
    "q255_binseg_changepoint" ->
      "binseg argmin rival side: the localCheckpointed candidate frame has one row per observed DAY — calendar-bounded (~2.4k rows for the generator's date range, never corpus-proportional), the q221 calendar-frame argument",
    "q277_semantic_decontam" ->
      "benchmark registry attach: every hinted frame is either the registry id table itself or the corpus semi-joined BY it — both are <= |registry| rows, and the registry store is seeded under the documented BenchRegistryCap (vec_id % 50 = 0 AND vec_id < cap => <= cap/50 ids) so its cardinality is registry-governed, never corpus-proportional")

  private def refsBounded(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e.references.nonEmpty && e.references.forall(r => BoundedDomainCols(r.name))

  /** Structural boundedness: does this subtree provably produce a
    * corpus-independent number of rows?
    */
  private def bounded(p: LogicalPlan): Boolean = p match {
    case a: Aggregate if a.groupingExpressions.isEmpty => true
    case a: Aggregate =>
      a.groupingExpressions.forall(refsBounded) || bounded(a.child)
    case _: GlobalLimit | _: LocalLimit => true
    case _: LocalRelation | _: OneRowRelation | _: Range => true
    case j: Join => bounded(j.left) && bounded(j.right)
    case u: Union => u.children.forall(bounded)
    case f: Filter =>
      // per-group top-K: rank-filter against an integer literal over a
      // window partitioned by bounded-domain columns → ≤ K·|domain| rows
      // the partition key may be a bounded domain OR a probe identifier
      // (query_id/anchor_id): per-probe rank cuts are K·|probe set| and
      // probe sets are literal-bounded where they are built
      val groupLimitWindow = f.child.collectFirst {
        case w: Window if w.partitionSpec.nonEmpty &&
          w.partitionSpec.forall(e => refsBounded(e) ||
            (e.references.nonEmpty &&
              e.references.forall(r => IdCols(r.name)))) => w
      }.isDefined
      val literalCut = f.condition.exists { case _: Literal => true; case _ => false }
      // probe-set idiom: `vec_id < 20` — a literal prefix cut on an
      // identifier column admits at most K rows at any corpus scale
      val idCut = f.condition.exists {
        case LessThan(a: Attribute, _: Literal) => IdCols(a.name)
        case LessThanOrEqual(a: Attribute, _: Literal) => IdCols(a.name)
        case EqualTo(a: Attribute, _: Literal) => IdCols(a.name)
        case _ => false
      }
      (groupLimitWindow && literalCut) || idCut || bounded(f.child)
    case lr: LogicalRelation =>
      // a file scan: bounded only if every root path is a fixed-size table
      lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.nonEmpty &&
          fs.location.rootPaths.forall(p =>
            FixedTables.exists(t => p.toString.contains(s"/$t.parquet")))
        case _ => false
      }
    case other =>
      // narrow wrappers (Project/Window/Sort/Repartition/Generate/...):
      // cardinality is at most a per-row expansion of the child
      other.children.nonEmpty && other.children.forall(bounded)
  }

  /** Collect every join input that carries an explicit broadcast hint
    * in the optimized logical plan (user hints survive optimization on
    * the Join node; AQE's own runtime broadcast decisions do NOT show
    * up here — which is the point: those are size-gated).
    */
  private def hintedBroadcastInputs(name: String): Seq[LogicalPlan] =
    SparkEntry.queries(name)(spark, Sf)
      .queryExecution.optimizedPlan.collect { case j: Join =>
        Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right).collect {
          case (Some(h), child) if h.strategy.contains(BROADCAST) => child
        }
      }.flatten

  test("no registry query broadcast-hints a corpus-proportional frame") {
    val violations = SparkEntry.registry.flatMap { case (name, _) =>
      if (CapJustified.contains(name)) Nil
      else hintedBroadcastInputs(name).filterNot(bounded).map { child =>
        s"$name hints an unbounded frame:\n${child.treeString}"
      }
    }
    assert(violations.isEmpty,
      s"${violations.size} corpus-proportional broadcast hint(s):\n" +
        violations.mkString("\n---\n"))
  }

  test("q149 FK audit carries NO broadcast hints (fact-grain parents must stay AQE-sized)") {
    assert(hintedBroadcastInputs("q149_referential_integrity").isEmpty,
      "q149's parent joins must be unhinted — `orders` is a fact-grain " +
        "parent whose distinct key set grows with the corpus")
  }

  test("q119 co-purchase hints ONLY the scalar order total, never partCounts") {
    val hinted = hintedBroadcastInputs("q119_copurchase_lift")
    assert(hinted.size == 1, s"expected exactly the scalar-total hint, got ${hinted.size}")
    assert(hinted.forall(_.collectFirst {
      case a: Aggregate if a.groupingExpressions.isEmpty => a
    }.isDefined), "the only admissible q119 hint is the 1-row order total")
  }
}

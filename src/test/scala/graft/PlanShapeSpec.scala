package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Pins the shuffle-count claims PLANS.md makes for the narrow/
  * single-exchange operators: a regression that adds an exchange to
  * these plans is a scale regression even when results stay correct.
  * Broadcast exchanges are excluded — they are the cheap side of the
  * designs under test.
  */
class PlanShapeSpec extends AnyFunSuite with SparkSpec
    with AdaptiveSparkPlanHelper {

  private def shuffles(name: String): Int =
    shuffleCount(SparkEntry.queries(name)(spark, Sf)
      .queryExecution.executedPlan.toString)

  // count shuffle exchanges only (hash/range/round-robin), not
  // BroadcastExchange and not the one-row SinglePartition folds of
  // tiny stats aggregates. Matched anywhere in the line: exchanges on
  // `:` branch-continuation lines count the same as spine `+-` ones
  // (the old line-anchored form silently missed branch exchanges).
  private def shuffleCount(plan: String): Int =
    "Exchange (hashpartitioning|rangepartitioning|RoundRobinPartitioning)".r
      .findAllIn(plan).size

  test("chunking (q65) is a zero-shuffle narrow plan") {
    assert(shuffles("q65_doc_chunks") == 0)
  }

  test("repetition metrics (q70) are a zero-shuffle narrow plan") {
    assert(shuffles("q70_repetition") == 0)
  }

  test("packing (q67) pays exactly one exchange") {
    assert(shuffles("q67_sequence_packing") == 1)
  }

  test("funnel (q73) pays exactly one exchange") {
    assert(shuffles("q73_event_funnel") == 1)
  }

  test("exact dedup (q34) pays exactly one exchange") {
    assert(shuffles("q34_dedup_exact") == 1)
  }

  test("rolling window (q76): events shuffle once; the frame re-keys daily rows only") {
    // exchange 1 moves raw events into the (user, day) aggregate;
    // exchange 2 re-keys the already-collapsed user-day rows for the
    // user-partitioned frame — corpus-sized data moves exactly once
    assert(shuffles("q76_rolling_window") == 2)
  }

  test("PQ audit (q86) is a zero-shuffle narrow plan") {
    // codebooks train on a bounded collected sample BEFORE the audit
    // frame exists; the returned plan itself is scan → mapPartitions
    assert(shuffles("q86_pq_quantize") == 0)
  }

  test("per-source audit (q84) moves corpus rows into one keyed aggregate") {
    // two distinct aggregates plan through Expand, but every exchange
    // is keyed on (source[, distinct-field]) AFTER the map-side partial
    // — corpus rows fold locally first; allow the expand re-keys, but
    // a plan that stopped partial-aggregating would add more
    assert(shuffles("q84_source_quality") <= 3)
  }

  test("cross-source dups (q85) self-join the collapsed fingerprints, not docs") {
    // each join side pays its distinct-collapse exchange and the join
    // re-key, plus the final pair aggregate — but every exchange moves
    // (fingerprint, source) rows, never document-level pair expansions.
    // A regression that joined before collapsing would not change the
    // count here, so ALSO pin the shape: the join inputs must be
    // aggregates (the distinct), not raw scans.
    assert(shuffles("q85_cross_source_dups") <= 5)
    val plan = SparkEntry.queries("q85_cross_source_dups")(spark, Sf)
      .queryExecution.optimizedPlan.toString
    val joinAt = plan.indexOf("Join Inner")
    assert(joinAt >= 0, "expected an inner self-join in the plan")
    // both join children must already be Aggregates (the per-source
    // distinct), i.e. no bare relation feeds the join
    val below = plan.substring(joinAt)
    assert(below.split("\n").count(_.contains("Aggregate")) >= 2,
      s"join inputs must be collapsed aggregates:\n$below")
  }

  test("events ts filters push down through the loader's encoding normalization") {
    // The schema-adaptive loader may wrap `ts` in a cast (NTZ→TZ under
    // the UTC session). Catalyst unwraps that cast in comparisons, so a
    // time-range filter still reaches the parquet scan as a pushed
    // filter — the difference between pruning row groups and scanning
    // 100 TB. Pin it: if a loader change (e.g. a non-unwrappable
    // expression around ts) breaks the unwrap, this fails loudly.
    import org.apache.spark.sql.functions._
    val plan = graft.common.Tables.load(spark, Sf, "events")
      .filter(col("ts") >= lit("2025-06-01 00:00:00").cast("timestamp"))
      .select("event_id", "ts")
      .queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(ts".r
      .findFirstIn(plan).isDefined,
      s"ts range filter not pushed to the scan:\n$plan")
  }

  test("label-noise scan (q89): the top-5 window is WindowGroupLimit-bounded pre-exchange") {
    // q89 ranks the candidate-pair set with a row_number window — the
    // one shape the q62 argmax deliberately avoids. It is admissible
    // ONLY because Spark's rank-limit pushdown inserts a Partial
    // WindowGroupLimit below the exchange, so each map task forwards at
    // most 5 rows per v1 instead of sorting/shipping its whole
    // candidate slice. Pin that: if a refactor breaks the pushdown
    // (e.g. by filtering on a derived column), the plan silently
    // degrades to a full candidate-set sort — a scale regression with
    // identical results.
    val plan = SparkEntry.queries("q89_label_noise")(spark, Sf)
      .queryExecution.executedPlan.toString
    val partialLimits = "(?m)WindowGroupLimit.*Partial".r
      .findAllIn(plan).size
    assert(partialLimits >= 1,
      s"expected a Partial WindowGroupLimit bounding the rank filter:\n$plan")
  }

  test("char entropy (q110) is a zero-shuffle narrow plan") {
    assert(shuffles("q110_char_entropy") == 0)
  }

  test("seq-length buckets (q109) pay exactly one (map-combined) exchange") {
    assert(shuffles("q109_seqlen_buckets") == 1)
  }

  test("bloom join (q108): the probe filters the fact scan before the join") {
    val plan = SparkEntry.queries("q108_bloom_join")(spark, Sf)
      .queryExecution.executedPlan.toString
    // the native probe must sit in a Filter on the orders scan side —
    // i.e. the scan output is cut BEFORE any join/exchange — and the
    // dim side must broadcast (no shuffle join at this dim size), so the
    // only shuffle left is the final aggregation's
    assert(plan.contains("bloom_might_contain"),
      s"bloom probe missing from the physical plan:\n$plan")
    assert(shuffles("q108_bloom_join") == 1)
  }

  test("inverted index (q113): one term exchange serves both window and aggregate") {
    assert(shuffles("q113_inverted_index") == 1)
  }

  test("BM25 (q115): corpus explodes once; df + top-k share the term exchange") {
    // exchange 1: postings into the (term, doc, dl) aggregate;
    // exchange 2: the term re-key serving BOTH the df count window and
    // the WindowGroupLimit-capped rank window. A third exchange means
    // df regressed to a separate aggregate branch re-reading the corpus.
    assert(shuffles("q115_bm25_topk") == 2)
    val plan = SparkEntry.queries("q115_bm25_topk")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("WindowGroupLimit".r.findFirstIn(plan).isDefined,
      s"expected a WindowGroupLimit-capped rank window:\n$plan")
  }

  test("temperature mix (q116): corpus shuffles only into keyed aggregates") {
    // exchange 1: lang counts; exchange 2: the bounded one-row-per-
    // stratum window re-key for n_min (NOT corpus-sized); exchange 3:
    // the final per-lang summary. The accept test itself is a map-side
    // integer compare against a broadcast — corpus rows never shuffle.
    assert(shuffles("q116_temperature_mix") <= 3)
  }

  test("export-stage scoring ops (q129, q130, q135) are zero-shuffle narrow plans") {
    // PII export, hashed-classifier logits, and embedding extremes are
    // all per-row projections — a 100 TB corpus scores as a map job
    assert(shuffles("q129_pii_export") == 0)
    assert(shuffles("q130_hashed_classifier") == 0)
    assert(shuffles("q135_embedding_extremes") == 0)
  }

  test("threshold sweep (q131): corpus folds once; the sweep is a 12-row frame") {
    // the single hash exchange is the ≤12-bin histogram aggregate; the
    // grid join is broadcast and the suffix-sum window runs on ≤12 rows
    // (its SinglePartition exchange is not corpus data)
    assert(shuffles("q131_threshold_sweep") == 1)
    val plan = SparkEntry.queries("q131_threshold_sweep")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"grid/bin join should broadcast:\n$plan")
  }

  test("curriculum (q132) and centroids (q136) pay exactly one visible exchange") {
    // q132's range partition lives in the globalOrder RDD lineage; the
    // SQL plan's only exchange is the 5-row stage aggregate. q136's is
    // the (label, dim) coordinate aggregate with map-side combine.
    assert(shuffles("q132_curriculum_stages") == 1)
    assert(shuffles("q136_label_centroids") == 1)
  }

  test("vocab contamination (q134) broadcasts the vocab to the scoring join") {
    // corpus-sized exchanges: postings into the (lang, term) aggregate,
    // the term re-key for the top-K window (collapsed terms, not
    // postings), the per-doc hit aggregate, and the doc-keyed audit
    // join — the vocab side itself must be broadcast, never shuffled
    assert(shuffles("q134_vocab_contamination") <= 4)
    val plan = SparkEntry.queries("q134_vocab_contamination")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"vocab join should broadcast:\n$plan")
  }

  test("centroid purity (q137) broadcasts centroids; no all-pairs exchange") {
    // exchanges: coordinate aggregate, |labels|-row centroid pivot, the
    // vec_id rank re-key (|labels|× narrow rows), the |labels|² matrix
    // aggregate — the vector×centroid product itself is a broadcast
    // nested loop over ≤|labels| rows, never a shuffled cross join
    assert(shuffles("q137_centroid_purity") <= 4)
    val plan = SparkEntry.queries("q137_centroid_purity")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"centroid side should broadcast:\n$plan")
  }

  test("onboarding paths (q138): user exchange is reused by the prefix aggregate") {
    // exchange 1 keys events by user for the rank window AND the
    // per-user path aggregate (same partitioning — no re-key);
    // exchange 2 is one short row per user into the path counts
    assert(shuffles("q138_event_paths") == 2)
  }

  test("SCD2 build (q139): one dimension-key exchange serves all three windows") {
    assert(shuffles("q139_scd2_history") == 1)
  }

  test("exact correlation matrix (q143) is a single-pass global aggregate") {
    // all 9 moments fold in one scan; the only exchange is the 1-row
    // SinglePartition final merge, which carries no corpus data
    assert(shuffles("q143_exact_corr") == 0)
  }

  test("CUPED (q142): corpus shuffles once into the per-user frame") {
    // exchange 1: events → per-user covariate/outcome aggregate;
    // remaining exchanges move only |users| narrow rows (the arm
    // aggregate) — and the pooled-moment frame is broadcast back
    assert(shuffles("q142_cuped") <= 3)
    val plan = SparkEntry.queries("q142_cuped")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"pooled moments should broadcast:\n$plan")
  }

  test("winsorization (q146): one event_type exchange serves ranks, bounds, and audit") {
    // rank window, per-type count, bounds cut, and the final aggregate
    // all ride the same event_type hash partitioning; the bounds frame
    // re-joins as a broadcast
    assert(shuffles("q146_winsorize") <= 2)
    val plan = SparkEntry.queries("q146_winsorize")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"bounds join should broadcast:\n$plan")
  }

  test("contrastive batch (q147) broadcasts anchors; rank windows are group-limited") {
    val plan = SparkEntry.queries("q147_contrastive_batch")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"anchor side should broadcast:\n$plan")
    assert("WindowGroupLimit".r.findFirstIn(plan).isDefined,
      s"expected WindowGroupLimit-capped rank windows:\n$plan")
  }

  test("snapshot diff (q105) is one full-outer sort-merge join") {
    val plan = SparkEntry.queries("q105_snapshot_diff")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("SortMergeJoin.*FullOuter".r.findFirstIn(plan).isDefined,
      s"expected a full-outer sort-merge join:\n$plan")
    // one key exchange per join input and nothing after the join — the
    // diff's only wide step is the join itself
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 2, s"expected 2 key exchanges, got $exchanges:\n$plan")
  }

  test("KS statistic (q154): corpus folds once; the CDF scan is RDD-side") {
    // exchange 1 builds the per-score frame; PrefixSum's range
    // repartition + offset add run behind the createDataFrame boundary
    // (bounded per-partition driver state); the visible tail folds the
    // small diff frame
    assert(shuffles("q154_ks_statistic") <= 2)
  }

  test("PSI drift (q155): one corpus-sized exchange into the bin counts") {
    // the (type, bin) count aggregate moves corpus rows once; the
    // spine join, totals fold, and share projection all run on the
    // |types|×|bins| grid
    assert(shuffles("q155_psi_drift") <= 4)
  }

  test("chi-square cells (q156) broadcast the dim; marginals fold from cells") {
    val plan = SparkEntry.queries("q156_chisq_cells")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      s"customer dim should broadcast into the fact join:\n$plan")
    // exchange 1 is the corpus-sized cells aggregate; every other
    // exchange re-keys the |segments|×|priorities| frame
    assert(shuffles("q156_chisq_cells") <= 8)
  }

  test("triangles (q157) reuse ONE cached oriented-edge frame across all three self-join scans") {
    val df = SparkEntry.queries("q157_triangles")(spark, Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"oriented edges must be cache-scanned, not replanned:\n$plan")
    df.count()
    // repeat invocation is a memo hit: no new cached RDDs stack up.
    // Compare RDD ids, not map sizes: getPersistentRDDs is weak-valued,
    // so unreferenced localCheckpoint RDDs of earlier queries may be
    // collected mid-test and shrink the map. The memo holds its cached
    // frames strongly, so a stacking cache still shows up as new ids.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    SparkEntry.queries("q157_triangles")(spark, Sf).count()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty,
      s"repeat q157 must reuse the session-memoized cached frames; " +
        s"new persisted RDDs: ${added.toSeq.sorted.mkString(", ")}")
  }

  test("KM survival (q159): corpus collapses before the calendar-bounded window") {
    // exchange 1: per-customer min/max fold; exchange 2 keys the
    // distinct-duration frame; the one-partition window only ever sees
    // calendar-bounded rows
    assert(shuffles("q159_km_survival") <= 2)
  }

  test("z-test (q160): one user exchange then 2-row folds") {
    assert(shuffles("q160_two_proportion") <= 2)
  }

  test("grouped OLS (q163) computes all five moments in ONE corpus pass") {
    assert(shuffles("q163_ols_by_group") == 1)
  }

  test("RFM (q161): one corpus fold, then |customers|-frame rank joins") {
    // exchange 1 collapses orders per customer; the three rank-bin
    // join-backs and the ≤125-cell fold re-key the narrow per-customer
    // frame (the rank passes themselves are RDD-side range partitions)
    assert(shuffles("q161_rfm_segments") <= 5)
  }

  test("cohort LTV (q162): corpus collapses twice (cohorts, cells); window is calendar-bounded") {
    assert(shuffles("q162_cohort_ltv") <= 5)
  }

  test("CUSUM (q164) / EWMA (q165) fold the corpus once into the day frame") {
    assert(shuffles("q164_cusum_changepoint") <= 4)
    assert(shuffles("q165_ewma_daily") <= 2)
  }

  test("JW alias detection (q166): dictionary-blocked join, no corpus shuffle") {
    // exchange 1 builds the name dictionary; exchange 2 keys it by
    // block for the self-join — both on the |distinct names| frame
    assert(shuffles("q166_jw_name_match") == 2)
  }

  test("Gini (q167): one corpus fold; rank + deciles ride the indexed frame") {
    // the custkey collapse happens before globalOrder's materialized
    // range partition (a separate job); the visible plan re-keys only
    // the per-customer frame for the decile fold, and the Gini scalar
    // broadcasts
    assert(shuffles("q167_revenue_gini") == 1)
  }

  test("categorical MI (q168): one corpus fold; marginals window the cell frame") {
    assert(shuffles("q168_categorical_mi") == 1)
  }

  test("seasonal decomposition (q169): one corpus fold + tiny dow re-key") {
    // exchange 1 collapses orders into the calendar-bounded day frame;
    // exchange 2 re-keys that frame for the 7-row seasonal fold, which
    // broadcasts back
    assert(shuffles("q169_seasonal_decomp") == 2)
  }

  test("sliding HLL (q170): two corpus folds; the rest is day-frame traffic") {
    // the corpus is touched twice (day sketches; distinct (day,user)
    // pairs for the audit side — dropped in production); the remaining
    // exchanges move only the calendar-bounded day frame
    assert(shuffles("q170_sliding_hll") <= 6)
  }

  test("PIT lookup (q171): ONE dimension-key exchange serves build, join, and audit") {
    assert(shuffles("q171_scd2_pit") == 1)
  }

  test("growth accounting (q172): pair-distinct, user fold, day fold — three exchanges") {
    assert(shuffles("q172_new_vs_returning") == 3)
  }

  test("WoE/IV (q173): one corpus fold; rank + bins ride the indexed user frame") {
    // the user fold happens before globalOrder's materialized range
    // partition (q167's shape); the visible plan re-keys only the
    // 5-row bin fold, and the class totals broadcast
    assert(shuffles("q173_woe_iv") == 2)
  }

  test("power curve (q174): pair-distinct, user fold, histogram fold — three exchanges") {
    assert(shuffles("q174_power_curve") == 3)
  }

  test("cadence (q175): customer lag window + calendar-bounded histogram fold") {
    assert(shuffles("q175_purchase_cadence") == 2)
  }

  test("HHI (q176): per-customer fold + |nations| fold; dim side broadcasts") {
    assert(shuffles("q176_nation_hhi") == 2)
  }

  test("ABC (q177): part fold + 3-class fold; the cumulative is PrefixSum, not a one-task window") {
    // the two-phase scan's range partition is a materialized prior job
    // (q167's globalOrder shape) — the visible exchanges are the part
    // fold and the 3-row class fold
    assert(shuffles("q177_abc_classes") == 2)
  }

  test("lead-time quartiles (q178): heavy shuffle ends at the (priority, days) count frame") {
    // the quartile sweep runs driver-side on the collected histogram,
    // so the heavy shuffle lives in the histogram collect job, not in
    // the returned plan: capture that job and pin it — exactly one
    // exchange, keyed on the (priority, days) count frame, and no
    // per-group window or sort over raw rows
    val histJobs = new ConcurrentLinkedQueue[QueryExecution]()
    val seen = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "collect" && qe.analyzed.toString.contains("lead_days")) {
          histJobs.add(qe); seen.countDown()
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val df =
      try {
        val q = SparkEntry.queries("q178_leadtime_quartiles")(spark, Sf)
        // listener events arrive asynchronously on the listener bus
        assert(seen.await(60, TimeUnit.SECONDS),
          "no histogram collect job observed for q178")
        q
      } finally spark.listenerManager.unregister(listener)
    val returned = df.queryExecution.executedPlan.toString
    assert(shuffleCount(returned) == 0,
      s"q178's returned frame must be the collected sweep:\n$returned")
    val hist = histJobs.peek().executedPlan
    val exchanges = collect(hist) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1,
      s"histogram job must pay exactly one shuffle:\n$hist")
    val keys = exchanges.head.outputPartitioning match {
      case HashPartitioning(exprs, _) => exprs.map {
        case a: Attribute => a.name
        case e => e.sql
      }
      case other => Seq(other.toString)
    }
    assert(keys == Seq("o_orderpriority", "lead_days"),
      s"histogram shuffle must key on (o_orderpriority, lead_days):\n$hist")
    val ordered = collect(hist) {
      case p if p.nodeName.contains("Window") || p.isInstanceOf[SortExec] =>
        p.nodeName
    }
    assert(ordered.isEmpty,
      s"histogram job must not window or sort raw rows:\n$hist")
  }

  test("rolling correlation (q179): ONE corpus fold; all five moments from one day-frame window") {
    assert(shuffles("q179_rolling_corr") == 1)
  }

  test("heap top-k (q180): two-phase aggregate, never a per-group sort") {
    val plan = SparkEntry.queries("q180_topk_heap")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(shuffles("q180_topk_heap") == 1)
    // the bounded heap rides ObjectHashAggregate's partial/final split;
    // a Window or Sort in this plan would mean a task owns a whole
    // segment's corpus slice
    assert(plan.contains("ObjectHashAggregate"))
    assert(!plan.contains("Window"))
    assert(!plan.contains("Sort "))
  }

  test("behavior entropy (q181): (user,type) fold + user re-key for the ordered fold") {
    assert(shuffles("q181_behavior_entropy") == 2)
  }

  test("transition matrix (q182): version build + 25-cell matrix folds") {
    assert(shuffles("q182_priority_transitions") == 3)
  }

  test("dup-payment screen (q183): selective equi-join, never a cartesian") {
    val plan = SparkEntry.queries("q183_dup_payments")(spark, Sf)
      .queryExecution.executedPlan.toString
    // the (user, dollars) key is an equality — the time predicate must
    // ride a hash/sort-merge join as a filter, not force a nested loop
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
    assert(shuffles("q183_dup_payments") <= 2)
  }

  test("abandonment (q184): session build + day fold, two exchanges") {
    assert(shuffles("q184_browse_abandonment") == 2)
  }

  test("seasonal-naive (q189): day-frame fold + calendar self-join, two exchanges") {
    assert(shuffles("q189_seasonal_naive") == 2)
  }

  test("retention curve (q188): q74's build + a cohort-frame window") {
    // user fold, classify join, pair-distinct, (cohort,week) fold — the
    // normalization window adds NO exchange beyond q74's own four
    assert(shuffles("q188_retention_curve") == 4)
  }

  test("price realization (q186) / late-z (q187): one brand/supplier fold each") {
    assert(shuffles("q186_price_realization") == 1)
    assert(shuffles("q187_late_shipment_z") == 1)
  }

  test("sourcing risk (q185): ONE fact scan; totals are the histogram's own marginals") {
    val plan = SparkEntry.queries("q185_single_sourcing")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1)
    assert(shuffles("q185_single_sourcing") == 3)
  }

  test("stats MV (q190): four batch partials + one merge fold, nothing else") {
    // each deterministic batch pays its own map-side-combined partial
    // exchange; the merge is a fifth, |groups|-row exchange — but AQE
    // coalescing at spec SF may fuse, so pin the ceiling
    assert(shuffles("q190_incremental_stats_mv") <= 5)
  }

  test("calibration (q191): one corpus fold; bins + marginals ride the <=10-row frame") {
    val plan = SparkEntry.queries("q191_calibration_bins")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1)
    assert(shuffles("q191_calibration_bins") == 2)
  }

  test("entity resolution (q192): checkpointed rounds — no exponential lineage replay") {
    // without the per-round localCheckpoint the 3-round unrolled plan
    // re-derives the name dictionary 2^rounds times (measured: 37
    // parquet scans, 48 exchanges); with it the visible plan reads the
    // checkpointed label frame and pays one survivorship exchange
    val plan = SparkEntry.queries("q192_entity_resolution")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 0,
      s"q192 must read checkpointed round frames, not replan the dictionary:\n$plan")
    assert(shuffles("q192_entity_resolution") <= 2)
  }

  test("windowed funnel (q193): ONE user exchange serves all three deadline minima") {
    val plan = SparkEntry.queries("q193_windowed_funnel")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1)
    assert(shuffles("q193_windowed_funnel") == 1)
  }

  test("audience overlap (q194): exact pairs are in-row (q119 shape), never a self-join") {
    // visible plan: ONE events scan into the per-user type-set fold +
    // the pair-count exchange; the sketch fold runs once behind its
    // checkpoint. A (user,type) self-join would add scans + exchanges.
    val plan = SparkEntry.queries("q194_audience_overlap")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1)
    assert(shuffles("q194_audience_overlap") == 2)
  }

  test("k-anonymity (q195): QI fold + class-size fold; marginals over the result frame") {
    val plan = SparkEntry.queries("q195_k_anonymity")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1)
    assert(shuffles("q195_k_anonymity") == 2)
  }

  test("order reconciliation (q196): one orderkey fold; join strategy left to AQE") {
    // one lineitem fold (the only shuffle we own) + the orders LEFT
    // join — both sides fact-grain, so NO hint: AQE may broadcast at
    // toy scale and must be free to shuffle-join at corpus scale.
    val plan = SparkEntry.queries("q196_order_reconciliation")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 2)
    assert(shuffles("q196_order_reconciliation") <= 2,
      s"q196 owns one orderkey exchange (+ at most the AQE join):\n$plan")
  }

  test("item neighbors (q197): ONE corpus scan; rank cut group-limits below the window") {
    // both pair orientations are emitted in-row at explode time — a
    // union of two references to the pair frame would replan the whole
    // generation lineage twice (measured: 2 scans). The top-K cut must
    // show WindowGroupLimit (Partial below the part exchange) so no
    // task ever sorts an item's full corpus-wide neighbor list.
    val plan = SparkEntry.queries("q197_item_neighbors")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"q197 must generate both orientations in ONE pass:\n$plan")
    assert("WindowGroupLimit".r.findAllIn(plan).nonEmpty,
      s"q197's rank cut must push a group limit below the window:\n$plan")
    assert(shuffles("q197_item_neighbors") == 3)
  }

  test("quantile MV (q198): four batch partials + one merge fold + the bucket window") {
    assert(shuffles("q198_quantile_mv") <= 5)
  }

  test("FD audit (q199): one scan per candidate table; A-distinct folds from the pair frame") {
    val plan = SparkEntry.queries("q199_fd_audit")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 5,
      s"q199 must scan each candidate table exactly once:\n$plan")
    assert(shuffles("q199_fd_audit") <= 10)
  }

  test("stationary distribution (q200): iterations run on the checkpointed matrix, not the corpus") {
    // the |types|²-row transition matrix localCheckpoints (q192's
    // lineage cut) — without it the 3 unrolled iterations replan the
    // whole corpus pair generation each round. Visible plan: tiny
    // joins/folds only, ZERO parquet scans.
    val plan = SparkEntry.queries("q200_markov_stationary")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).isEmpty,
      s"q200 iterations must not replan the corpus:\n$plan")
    assert(shuffles("q200_markov_stationary") <= 5)
  }

  test("next-event eval (q201): ONE corpus pass serves both the train and eval folds") {
    // train/test both filter the checkpointed (from, next, is_train)
    // aggregate — two consumers of the raw pair lineage would replan
    // the window scan twice (measured: 4 scans before the rework).
    val plan = SparkEntry.queries("q201_next_event_eval")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).isEmpty,
      s"q201 folds must consume the checkpointed pair aggregate:\n$plan")
    assert(shuffles("q201_next_event_eval") <= 2)
  }

  test("IPW uplift (q202): one user fold builds exposure+treatment+outcome in the same pass") {
    val plan = SparkEntry.queries("q202_ipw_uplift")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 2,
      s"q202 is one corpus scan + the 1-row boundary scan:\n$plan")
    assert(shuffles("q202_ipw_uplift") == 2)
  }

  test("compaction plan (q203): one size-census fold; binning rides the calendar-bounded frame") {
    val plan = SparkEntry.queries("q203_compaction_plan")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1)
    assert(shuffles("q203_compaction_plan") <= 2)
  }

  test("skip-gram pairs (q204): K leads share one user exchange; pairs combine map-side") {
    // exchange 1 orders each user's history for the window (all K
    // leads evaluate in that single pass); exchange 2 moves the
    // already-combined ≤|types|² pair partials — a rank-distance
    // self-join would shuffle the corpus twice instead
    assert(shuffles("q204_skipgram_pairs") == 2)
  }

  test("bot screen (q206): the user rollup reuses the session window's partitioning") {
    // sessionization's user_id exchange is the ONLY shuffle — the
    // per-user aggregate sits on the same partitioning, so adding the
    // screen to q42's fold costs zero additional data movement
    assert(shuffles("q206_bot_sessions") == 1)
  }

  test("skew profile (q207): TakeOrdered cut, never a global sort") {
    val plan = SparkEntry.queries("q207_skew_profile")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"q207's top-K must be a per-partition heap merge:\n$plan")
    assert(shuffles("q207_skew_profile") <= 2)
  }
}

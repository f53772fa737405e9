package graft.queries

import graft.QueryDef
import graft.common.Exact._
import graft.common.Tables.load
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Sequence analytics over the `events` table: the first-order Markov
  * transition matrix (which event_type follows which) and time-decayed
  * engagement scoring (the recency-weighted activity feature a churn /
  * ranking model consumes). Both are training-data extensions beyond the
  * reference's batch event surface (SURVEY.md §2.9 note): transition
  * matrices drive session-model features and anomaly baselines;
  * exponential decay is the standard freshness prior for user-level
  * features.
  */
object Sequence {

  /** q117: first-order transition counts + conditional probabilities.
    *
    * Scale: lead() needs each user's events ordered — ONE shuffle on
    * user_id (hash-partitioned; a user's history fits an executor by
    * construction, there is no global sort). The pair aggregate is
    * map-side combined down to |types|² rows before its exchange, and
    * the from-state total is a window over the already-tiny pair frame.
    * Nothing here grows with the corpus except the first shuffle, which
    * any per-user operator pays.
    *
    * Float parity: p_transition is ONE long/long division of identical
    * integers — IEEE-exact in both engines, no tolerance needed.
    */
  private val q117 = QueryDef(
    (s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      load(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(lcountAll.as("n_pairs"))
        .withColumn("from_total",
          sum(col("n_pairs")).over(Window.partitionBy(col("event_type"))))
        .withColumn("p_transition", col("n_pairs") / col("from_total"))
    },
    Some("""WITH seq AS (
              SELECT event_type,
                LEAD(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts ASC, event_id ASC) AS next_type
              FROM events
            ), pairs AS (
              SELECT event_type, next_type,
                CAST(count(*) AS BIGINT) AS n_pairs
              FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
            )
            SELECT event_type, next_type, n_pairs,
              CAST(SUM(n_pairs) OVER (PARTITION BY event_type) AS BIGINT)
                AS from_total,
              n_pairs / CAST(SUM(n_pairs) OVER (PARTITION BY event_type)
                AS BIGINT) AS p_transition
            FROM pairs"""),
    "event-type transition matrix: lead + pair counts, exact division [sequence]")

  /** ln(2)/30: 30-day half-life decay rate. The literal is spelled
    * identically in the Spark plan and the oracle SQL so both engines
    * parse the same double.
    */
  private val DecayRate = "0.023104906018664842"

  /** q118: exponential time-decay engagement per user — score =
    * Σ value·2^(−age/30d), age measured against the corpus watermark
    * (max ts), so the result is a pure function of the data.
    *
    * Scale: the watermark is a 1-row aggregate broadcast to the scan;
    * the decay term is per-row map work inside codegen; the per-user
    * aggregate map-side combines before the single user_id shuffle.
    * The decimal cast on the summed term makes the partial-aggregate
    * merge order-invariant (common.Exact discipline), so results are
    * identical on any cluster topology.
    *
    * Float parity: exp() is NOT bit-identical across engines, so this
    * uses the q110 tolerance-contract idiom — integer evidence
    * (n_events, last_ts) must match exactly and the decayed sum must
    * agree within 1e-6; a drifting row drops and fails the compare.
    */
  private val q118 = QueryDef(
    (s, d) => {
      val ev = load(s, d, "events")
      val ref = ev.agg(max(col("ts")).as("ref_ts"))
      ev.crossJoin(broadcast(ref))
        .withColumn("age_days",
          (unix_micros(col("ref_ts")) - unix_micros(col("ts")))
            .cast("double") / lit(86400000000.0))
        .withColumn("term",
          col("value") * exp(col("age_days") * lit(-DecayRate.toDouble)))
        .groupBy(col("user_id"))
        .agg(
          lcountAll.as("n_events"),
          max(col("ts")).as("last_ts"),
          sum(col("term").cast(DecimalType(27, 12))).cast("double")
            .as("decayed_value"))
    },
    Some(s"""WITH emitted AS (
              SELECT * FROM read_parquet(
                '${QueryDef.OutDirToken}/q118_time_decay/*.parquet')
            ), ref AS (
              SELECT epoch_us(max(ts)) AS ref_us FROM events
            ), agg AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                max(ts) AS last_ts,
                SUM(value * exp(-((ref_us - epoch_us(ts)) / 86400000000.0)
                  * $DecayRate)) AS dv
              FROM events, ref GROUP BY 1
            )
            SELECT e.user_id, e.n_events, e.last_ts, e.decayed_value
            FROM emitted e
            JOIN agg a ON e.user_id = a.user_id
              AND e.n_events = a.n_events AND e.last_ts = a.last_ts
            WHERE abs(e.decayed_value - a.dv) < 1e-6"""),
    "time-decay engagement: watermark broadcast, tolerance oracle [sequence]")

  /** Path prefix length: the classic "first N events" onboarding
    * window.
    */
  private val PathLen = 8

  /** q138: top onboarding paths — every user's first 8 event types
    * (chronological, event_id tiebreak) joined into a path string,
    * counted across users. Product analytics reads this as "what do new
    * users actually do"; sequence-model training reads it as the
    * empirical prefix distribution.
    *
    * Scale: the window filter caps state FIRST (row_number ≤ 8 over the
    * per-user order — one user_id shuffle, streaming rank, no buffered
    * history), so the collect_list that follows holds at most 8 tiny
    * structs per user no matter how active the user is. The path count
    * is a second (path) shuffle over one short row per user. Never
    * collect-then-slice: an unbounded user history inside one
    * collect_list is the OOM that kills per-user aggs at 100 TB.
    *
    * Exactness: strings and counts only.
    */
  private val q138 = QueryDef(
    (s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      load(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("rn", row_number().over(byUser))
        .filter(col("rn") <= PathLen)
        .groupBy(col("user_id"))
        .agg(concat_ws(">",
          transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
            _.getField("event_type"))).as("path"))
        .groupBy(col("path"))
        .agg(lcountAll.as("n_users"))
    },
    Some(s"""WITH ranked AS (
              SELECT user_id, event_type, ROW_NUMBER() OVER (
                PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
              FROM events
            ), paths AS (
              SELECT user_id,
                array_to_string(list(event_type ORDER BY rn), '>') AS path
              FROM ranked WHERE rn <= $PathLen GROUP BY 1
            )
            SELECT path, CAST(count(*) AS BIGINT) AS n_users
            FROM paths GROUP BY 1"""),
    "top onboarding paths: rank-capped prefix, bounded per-user state [sequence]")

  /** Stationary-distribution scale (micro-units) and fixed iteration
    * count. π⁰ is uniform at [[PiScale]]; each step folds
    * (π_i·n_ij) div total_i — pure i64 (bounds: π ≤ |types|·S and
    * n ≤ corpus rows, so the product stays under 2^63 up to ~10^11
    * transitions per cell).
    */
  private val PiScale = 1000000L
  private val PiIters = 3

  /** q200: stationary distribution of the event-type Markov chain —
    * fixed-round integer power iteration over q117's transition
    * matrix. Product reads this as "where does a user's session settle
    * long-run"; anomaly baselines read it as the expected type mix.
    * Fixed rounds + integer div = defined cross-engine semantics
    * (q140's PageRank precedent; float power iteration is partial-
    * order-dependent and can't be hash-compared).
    *
    * Scale: ONE user exchange builds the pair counts (map-side
    * combined to ≤|types|² rows); the chain closes on from-states and
    * row-normalizes AFTER the closure so truncated to-only states
    * can't leak mass. The tiny matrix localCheckpoints (q192's cut) so
    * the statically-unrolled iterations replan nothing — each round is
    * a join of two ≤|types|-row frames, never a corpus touch.
    */
  private val q200 = QueryDef(
    (s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val pairs = load(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(lcountAll.as("n"))
      // The transition matrix is STRUCTURALLY ≤ |event types|² cells —
      // the type vocabulary, not the corpus, bounds it — so the one
      // user exchange above is the whole distributed computation and
      // the fixed-round power iteration runs driver-side on the
      // collected matrix (q59/q251's bounded-driver-state discipline;
      // r16: the unrolled DataFrame loop cost 8 AQE jobs and most of
      // the query's planning time to move ≤36 rows). Identical integer
      // semantics: counts and π values are non-negative i64, so Scala
      // `/` equals Spark's `div`.
      val mat = pairs.limit(10001).collect().map { r =>
        (r.getString(0), r.getString(1), r.getLong(2))
      }
      require(mat.length <= 10000,
        s"q200: transition matrix unexpectedly large (${mat.length} cells)")
      val states = mat.map(_._1).toSet
      val t = mat.filter { case (_, nxt, _) => states.contains(nxt) }
      val fromTotal: Map[String, Long] = t.groupBy(_._1)
        .map { case (src, xs) => src -> xs.map(_._3).sum }
      var pi: Map[String, Long] =
        t.map(_._1).distinct.map(_ -> PiScale).toMap
      for (_ <- 1 to PiIters) {
        pi = t.iterator
          .filter { case (src, _, _) => pi.contains(src) }
          .map { case (src, nxt, n) => nxt -> (pi(src) * n) / fromTotal(src) }
          .toSeq.groupBy(_._1)
          .map { case (nxt, xs) => nxt -> xs.map(_._2).sum }
      }
      val rows: java.util.List[org.apache.spark.sql.Row] = {
        import scala.jdk.CollectionConverters._
        pi.toSeq.map { case (node, r) =>
          org.apache.spark.sql.Row(node, r, r.toDouble / PiScale.toDouble)
        }.asJava
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("pi_scaled",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("pi",
          org.apache.spark.sql.types.DoubleType)))
      s.createDataFrame(rows, schema)
    },
    Some(s"""WITH seq AS (
              SELECT event_type,
                LEAD(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts ASC, event_id ASC) AS next_type
              FROM events
            ), pairs AS (
              SELECT event_type, next_type,
                CAST(count(*) AS BIGINT) AS n
              FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
            ), st AS (
              SELECT DISTINCT event_type FROM pairs
            ), t AS (
              SELECT p.event_type, p.next_type, p.n,
                CAST(SUM(p.n) OVER (PARTITION BY p.event_type) AS BIGINT)
                  AS from_total
              FROM pairs p JOIN st ON p.next_type = st.event_type
            ), pi0 AS (
              SELECT event_type AS node, CAST($PiScale AS BIGINT) AS r
              FROM st
            ), pi1 AS (
              SELECT t.next_type AS node,
                CAST(SUM((pi0.r * t.n) // t.from_total) AS BIGINT) AS r
              FROM t JOIN pi0 ON t.event_type = pi0.node GROUP BY 1
            ), pi2 AS (
              SELECT t.next_type AS node,
                CAST(SUM((pi1.r * t.n) // t.from_total) AS BIGINT) AS r
              FROM t JOIN pi1 ON t.event_type = pi1.node GROUP BY 1
            ), pi3 AS (
              SELECT t.next_type AS node,
                CAST(SUM((pi2.r * t.n) // t.from_total) AS BIGINT) AS r
              FROM t JOIN pi2 ON t.event_type = pi2.node GROUP BY 1
            )
            SELECT node AS event_type, r AS pi_scaled,
              CAST(r AS DOUBLE) / $PiScale.0 AS pi
            FROM pi3"""),
    "Markov stationary distribution: fixed-round integer power iteration [sequence]")

  /** Holdout horizon of q201's temporal split, in days before the
    * corpus watermark.
    */
  private val EvalHoldoutDays = 7

  /** q201: next-event prediction evaluation under a TEMPORAL split —
    * train the argmax transition model on pairs completing before the
    * split day, score top-1 accuracy on pairs completing after. The
    * sequence-model baseline eval every session-prediction project
    * starts from; the time split (never random) is what makes it
    * honest — the model can only use the past.
    *
    * Scale: ONE corpus pass — the split flag joins the pair key, so a
    * single (from, next, is_train) aggregate (map-side combined to
    * ≤2·|types|² rows after one user exchange; the split day rides in
    * as a 1-row broadcast) serves BOTH the train fold and the eval
    * fold as filters over the checkpointed tiny frame (two consumers
    * of the same corpus lineage would otherwise replan the window
    * scan twice — measured 4 scans → 0 visible). The model pick is a
    * row_number over the tiny train frame; ties break on next_type
    * asc (total order, bit-identical pick cross-engine).
    *
    * Exactness: counts are integers; top1_acc is one long/long
    * division. From-states unseen in training evaluate with a NULL
    * prediction and zero hits, never dropped.
    */
  private val q201 = QueryDef(
    (s, d) => {
      val ev = load(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val ref = ev.agg(
        date_sub(max(col("ts")).cast("date"), EvalHoldoutDays)
          .cast("timestamp").as("split_ts"))
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val agg = ev
        .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
        .withColumn("next_ts", lead(col("ts"), 1).over(byUser))
        .filter(col("next_type").isNotNull)
        .crossJoin(broadcast(ref))
        .groupBy(col("event_type"), col("next_type"),
          (col("next_ts") < col("split_ts")).as("is_train"))
        .agg(lcountAll.as("n"))
        .localCheckpoint()
      val train = agg.filter(col("is_train"))
        .select(col("event_type"), col("next_type"),
          col("n").as("n_train"))
      val byFrom = Window.partitionBy(col("event_type"))
      val model = train
        .withColumn("n_train_pairs", sum(col("n_train")).over(byFrom))
        .withColumn("rk", row_number().over(
          byFrom.orderBy(col("n_train").desc, col("next_type").asc)))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("next_type").as("pred_next"),
          col("n_train_pairs"))
      agg.filter(!col("is_train"))
        .select(col("event_type"), col("next_type"),
          col("n").as("n_pairs"))
        .join(model, Seq("event_type"), "left")
        .groupBy(col("event_type"))
        .agg(
          first(col("pred_next")).as("pred_next"),
          coalesce(first(col("n_train_pairs")), lit(0L)).as("n_train_pairs"),
          sum(col("n_pairs")).as("n_test_pairs"),
          sum(when(col("next_type") === col("pred_next"), col("n_pairs"))
            .otherwise(0L)).as("n_hits"))
        .withColumn("top1_acc",
          col("n_hits").cast("double") / col("n_test_pairs").cast("double"))
    },
    Some(s"""WITH ref AS (
              SELECT CAST(CAST(max(ts) AS DATE) - $EvalHoldoutDays
                AS TIMESTAMP) AS split_ts
              FROM events
            ), seq AS (
              SELECT event_type,
                LEAD(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts ASC, event_id ASC) AS next_type,
                LEAD(ts) OVER (PARTITION BY user_id
                  ORDER BY ts ASC, event_id ASC) AS next_ts
              FROM events
            ), train AS (
              SELECT event_type, next_type,
                CAST(count(*) AS BIGINT) AS n_train
              FROM seq, ref
              WHERE next_type IS NOT NULL AND next_ts < split_ts
              GROUP BY 1, 2
            ), model AS (
              SELECT event_type, next_type AS pred_next,
                CAST(SUM(n_train) OVER (PARTITION BY event_type) AS BIGINT)
                  AS n_train_pairs,
                ROW_NUMBER() OVER (PARTITION BY event_type
                  ORDER BY n_train DESC, next_type ASC) AS rk
              FROM train
            ), test AS (
              SELECT event_type, next_type,
                CAST(count(*) AS BIGINT) AS n_pairs
              FROM seq, ref
              WHERE next_type IS NOT NULL AND next_ts >= split_ts
              GROUP BY 1, 2
            )
            SELECT t.event_type,
              any_value(m.pred_next) AS pred_next,
              COALESCE(any_value(m.n_train_pairs), 0) AS n_train_pairs,
              CAST(SUM(t.n_pairs) AS BIGINT) AS n_test_pairs,
              CAST(SUM(CASE WHEN t.next_type = m.pred_next
                THEN t.n_pairs ELSE 0 END) AS BIGINT) AS n_hits,
              CAST(SUM(CASE WHEN t.next_type = m.pred_next
                THEN t.n_pairs ELSE 0 END) AS DOUBLE) /
                CAST(SUM(t.n_pairs) AS DOUBLE) AS top1_acc
            FROM test t
            LEFT JOIN (SELECT * FROM model WHERE rk = 1) m
              ON t.event_type = m.event_type
            GROUP BY 1"""),
    "next-event eval: temporal split, argmax transition model, top-1 accuracy [sequence]")

  /** Skip-gram context radius (positions ahead) and the integer weight
    * scale: a pair at distance k contributes `WeightScale div k` — the
    * word2vec-style 1/k distance discount, kept in scaled integers so
    * the weighted count folds exactly in any partial-aggregate order.
    */
  private val SkipWindow = 3
  private val WeightScale = 1000000L

  /** q204: skip-gram co-occurrence pairs over per-user event sequences —
    * the (center, context) count table embedding trainers consume
    * (word2vec/item2vec on behavioral data), generalizing q117's
    * adjacent-only transitions to a ±K context with distance weighting.
    *
    * Scale: NO per-user array materialization and NO self-join — the K
    * context positions come from K `lead()` columns over ONE user_id
    * exchange (Spark evaluates all leads in a single window pass with
    * O(K) buffered rows per user, regardless of history length), the
    * in-row array/explode fans each event to ≤K pairs, and the pair
    * aggregate map-side combines down to ≤|types|² rows before its
    * exchange. The rank-distance self-join alternative shuffles the
    * fact table twice; this shape pays the one exchange any per-user
    * operator pays.
    *
    * Exactness: counts and `div`-scaled weights are pure i64.
    */
  private val q204 = QueryDef(
    (s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val contexts = array((1 to SkipWindow).map(k =>
        struct(lead(col("event_type"), k).over(byUser).as("b"),
          lit(k.toLong).as("dist"))): _*)
      load(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("ctx", contexts)
        .select(col("event_type").as("a"), explode(col("ctx")).as("p"))
        .filter(col("p.b").isNotNull)
        .groupBy(col("a"), col("p.b").as("b"))
        .agg(lcountAll.as("n_pairs"),
          sum(expr(s"$WeightScale div p.dist")).as("w_scaled"))
    },
    Some(s"""WITH seq AS (
              SELECT event_type AS a,
                LEAD(event_type, 1) OVER w AS b1,
                LEAD(event_type, 2) OVER w AS b2,
                LEAD(event_type, 3) OVER w AS b3
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
            ), flat AS (
              SELECT a, b1 AS b, 1 AS dist FROM seq WHERE b1 IS NOT NULL
              UNION ALL
              SELECT a, b2, 2 FROM seq WHERE b2 IS NOT NULL
              UNION ALL
              SELECT a, b3, 3 FROM seq WHERE b3 IS NOT NULL
            )
            SELECT a, b, CAST(count(*) AS BIGINT) AS n_pairs,
              CAST(SUM($WeightScale // dist) AS BIGINT) AS w_scaled
            FROM flat GROUP BY 1, 2"""),
    "skip-gram pairs: K leads over one user exchange, integer 1/k weights [sequence]")

  /** q225: top-20 behavioral trigrams by user support — sequential
    * pattern mining (the PrefixSpan "frequent length-3 sequences with
    * contiguous gap" special case) extending q117's bigram transition
    * matrix and q204's unordered skip-gram pairs to ORDERED 3-step
    * paths: "viewed → carted → purchased happens in N sessions" is the
    * shape merchandising and onboarding funnels are mined from.
    * Support = distinct users exhibiting the trigram (the pattern-
    * mining convention — a bot repeating one loop shouldn't dominate),
    * reported next to raw occurrence counts.
    *
    * Scale: the corpus pays the ONE user_id window exchange every
    * per-user operator pays (two `lead()`s evaluate in a single window
    * pass); the support fold is two-stage — (e1,e2,e3,user) first,
    * which map-side combines within a user's history, then the
    * ≤|types|³-keyed rollup — so no countDistinct expand ever sees raw
    * rows. The cut is ORDER BY + LIMIT → TakeOrderedAndProject under a
    * total tie-break, never a global sort.
    *
    * Exactness: pure integer counts, deterministic total-order cut —
    * hash-exact oracle.
    */
  private val q225 = QueryDef(
    (s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      load(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("e1"))
        .withColumn("e2", lead(col("e1"), 1).over(byUser))
        .withColumn("e3", lead(col("e1"), 2).over(byUser))
        .filter(col("e2").isNotNull && col("e3").isNotNull)
        .groupBy(col("e1"), col("e2"), col("e3"), col("user_id"))
        .agg(lcountAll.as("n_u"))
        .groupBy(col("e1"), col("e2"), col("e3"))
        .agg(sum(col("n_u")).cast("long").as("n_occurrences"),
          lcountAll.as("n_users"))
        .orderBy(col("n_users").desc, col("n_occurrences").desc,
          col("e1").asc, col("e2").asc, col("e3").asc)
        .limit(20)
    },
    Some("""WITH seq AS (
              SELECT user_id, event_type AS e1,
                LEAD(event_type, 1) OVER w AS e2,
                LEAD(event_type, 2) OVER w AS e3
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), per_user AS (
              SELECT e1, e2, e3, user_id,
                CAST(count(*) AS BIGINT) AS n_u
              FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
              GROUP BY 1, 2, 3, 4
            )
            SELECT e1, e2, e3,
              CAST(SUM(n_u) AS BIGINT) AS n_occurrences,
              CAST(COUNT(*) AS BIGINT) AS n_users
            FROM per_user GROUP BY 1, 2, 3
            ORDER BY n_users DESC, n_occurrences DESC, e1, e2, e3
            LIMIT 20"""),
    "top-20 ordered event trigrams by distinct-user support: two-stage " +
      "fold, TakeOrderedAndProject cut [sequence-mining]")

  /** q233: entropy rate of the event-type Markov chain — "how
    * predictable is the next user action": per from-state, the Shannon
    * entropy of its outgoing transition row H_i = −Σ_j p_ij·ln p_ij
    * (0 = deterministic next step, ln|types| = uniform), and the chain
    * entropy rate H = Σ_i w_i·H_i under the empirical visit weights
    * w_i = from_total_i / Σ (the plug-in estimator; q200's stationary
    * π converges to the same weights for an ergodic chain). The
    * behavioral-predictability readout that separates "browse→cart→
    * buy" funnels from bot-like uniform wandering, beside q181's
    * per-user mix entropy (which ignores ORDER — this is the
    * conditional, sequence-aware complement).
    *
    * Scale: the corpus pays q117's ONE user window exchange into
    * ≤|types|² pair counts; both entropy folds are WINDOWED ordered
    * sums over that bounded frame (per-state ordered by next_type; the
    * chain fold ordered by state — the unpartitioned window is over
    * |types| rows, q203's bounded-frame justification), so the float
    * accumulation order is pinned and the result partition-invariant.
    *
    * Exactness: counts are exact integers joined bit-exact by the
    * derived oracle; p·ln p terms carry the repo-wide ln contract —
    * the oracle recomputes from the same integer evidence and admits
    * h_state / entropy_rate within 1e-9.
    */
  private val q233 = QueryDef(
    (s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val pairs = load(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(lcountAll.as("n"))
      val byFrom = Window.partitionBy(col("event_type"))
      val stateFold = byFrom.orderBy(col("next_type").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val states = pairs
        .withColumn("from_total", sum(col("n")).over(byFrom))
        .withColumn("n_out", count(lit(1)).over(byFrom).cast("long"))
        .withColumn("p",
          col("n").cast("double") / col("from_total").cast("double"))
        .withColumn("h_run", sum(-col("p") * log(col("p"))).over(stateFold))
        .withColumn("rn", row_number().over(
          byFrom.orderBy(col("next_type").desc)))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("from_total"), col("n_out"),
          col("h_run").as("h_state"))
      val total = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val chainFold = Window.orderBy(col("event_type").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      states
        .withColumn("w_share",
          col("from_total").cast("double") /
            sum(col("from_total")).over(total).cast("double"))
        .withColumn("hr_run",
          sum(col("w_share") * col("h_state")).over(chainFold))
        // every w·H term is >= 0, so the ordered running sum is
        // nondecreasing and its max IS the completed fold
        .withColumn("entropy_rate", max(col("hr_run")).over(total))
        .select(col("event_type"), col("from_total"), col("n_out"),
          col("h_state"), col("w_share"), col("entropy_rate"))
    },
    Some(s"""WITH seq AS (
              SELECT event_type,
                LEAD(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts ASC, event_id ASC) AS next_type
              FROM events
            ), pairs AS (
              SELECT event_type, next_type,
                CAST(count(*) AS BIGINT) AS n
              FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
            ), st AS (
              SELECT event_type,
                CAST(SUM(n) AS BIGINT) AS from_total,
                CAST(COUNT(*) AS BIGINT) AS n_out,
                SUM(-(CAST(n AS DOUBLE) / ft)
                    * ln(CAST(n AS DOUBLE) / ft)) AS h_state
              FROM (SELECT event_type, next_type, n,
                      CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT)
                        AS ft
                    FROM pairs)
              GROUP BY event_type
            ), sh AS (
              SELECT event_type, from_total, n_out, h_state,
                CAST(from_total AS DOUBLE)
                  / CAST(SUM(from_total) OVER () AS DOUBLE) AS w_share
              FROM st
            ), ref AS (
              SELECT event_type, from_total, n_out, h_state, w_share,
                SUM(w_share * h_state) OVER () AS entropy_rate
              FROM sh
            ), emitted AS (
              SELECT * FROM read_parquet(
                '${graft.QueryDef.OutDirToken}/q233_markov_entropy/*.parquet')
            )
            SELECT e.event_type, e.from_total, e.n_out, e.h_state,
              e.w_share, e.entropy_rate
            FROM emitted e JOIN ref r ON e.event_type = r.event_type
              AND e.from_total = r.from_total AND e.n_out = r.n_out
            WHERE abs(e.h_state - r.h_state) < 1e-9
              AND abs(e.w_share - r.w_share) < 1e-9
              AND abs(e.entropy_rate - r.entropy_rate) < 1e-9"""),
    "Markov entropy rate: ordered ln folds on the bounded transition " +
      "matrix, derived oracle [sequence]")

  /** q235: dwell-time quartiles per event transition — for each
    * (from → to) step, the exact positional quartiles of the seconds a
    * user lingers before taking it ("view→cart in 40s median,
    * view→error in 2s" — the latency readout that separates deliberate
    * navigation from rage-clicking and bot loops, the TIME complement
    * of q117's transition COUNTS).
    *
    * Scale: the corpus pays q117's ONE user window exchange (gap and
    * next-type come from the same window pass); the quartiles ride
    * q81's histogram-positional engine — the heavy shuffle ends at the
    * (transition, gap) count frame (|types|²·|distinct gaps|, far
    * below row count), and NO per-row rank window ever touches the
    * corpus (the per-group ROW_NUMBER formulation hands one task a
    * whole transition class at 100 TB).
    *
    * Exactness: gaps are integer seconds; positional selection (rank
    * arithmetic in integers, the value AT the rank) returns actual
    * data values — hash-exact.
    */
  private val q235 = QueryDef(
    (s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val gaps = load(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
        .withColumn("next_ts", lead(col("ts"), 1).over(byUser))
        .filter(col("next_type").isNotNull)
        .select(
          concat(col("event_type"), lit(">"), col("next_type"))
            .as("transition"),
          (unix_timestamp(col("next_ts")) - unix_timestamp(col("ts")))
            .cast("long").as("gap_s"))
      Advanced.positionalQuartiles(gaps, "transition", "gap_s")
    },
    Some("""WITH seq AS (
              SELECT event_type,
                LEAD(event_type) OVER w AS next_type,
                CAST(date_diff('second', ts, LEAD(ts) OVER w) AS BIGINT)
                  AS gap_s
              FROM events
              WINDOW w AS (PARTITION BY user_id
                ORDER BY ts ASC, event_id ASC)
            ), g AS (
              SELECT event_type || '>' || next_type AS transition, gap_s
              FROM seq WHERE next_type IS NOT NULL
            ), r AS (
              SELECT transition, gap_s,
                ROW_NUMBER() OVER (PARTITION BY transition
                  ORDER BY gap_s) AS rn,
                COUNT(*) OVER (PARTITION BY transition) AS n
              FROM g
            )
            SELECT transition, CAST(n AS BIGINT) AS n_rows,
              CAST(min(CASE WHEN rn = greatest((n+1)*1//4, 1)
                THEN gap_s END) AS DOUBLE) AS p25,
              CAST(min(CASE WHEN rn = greatest((n+1)*2//4, 1)
                THEN gap_s END) AS DOUBLE) AS median,
              CAST(min(CASE WHEN rn = greatest((n+1)*3//4, 1)
                THEN gap_s END) AS DOUBLE) AS p75
            FROM r
            WHERE rn IN (greatest((n+1)*1//4, 1), greatest((n+1)*2//4, 1),
                         greatest((n+1)*3//4, 1))
            GROUP BY 1, 2"""),
    "dwell-time quartiles per transition: histogram-positional on the " +
      "shared user exchange [sequence]")

  def all: Seq[(String, QueryDef)] = Seq(
    "q117_event_transitions" -> q117,
    "q118_time_decay" -> q118,
    "q138_event_paths" -> q138,
    "q200_markov_stationary" -> q200,
    "q201_next_event_eval" -> q201,
    "q204_skipgram_pairs" -> q204,
    "q225_event_trigrams" -> q225,
    "q233_markov_entropy" -> q233,
    "q235_dwell_quartiles" -> q235)
}

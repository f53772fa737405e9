package graft.queries

import graft.QueryDef
import graft.common.Tables.load
import graft.operators.TemporalJoins
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Conversion attribution over the events table — the batch twin of
  * `streaming.EventStream.attributeConversions`: every purchase is
  * attributed to the LAST same-user view in the preceding hour
  * (last-touch), purchases with no view in window surface with null
  * view columns rather than disappearing (q89's convention — the
  * unattributed revenue is the interesting row).
  *
  * Scale: the candidate pairs come from
  * [[TemporalJoins.directedWindowJoin]] — (user, hour-bucket) keyed,
  * |V| + 2|P| shuffle rows, never an inequality join — and last-touch
  * is one purchase-keyed window over the bounded candidate set.
  * StreamJoinSpec pins pair-level parity with the streaming join on
  * the same staged data.
  */
object Attribution {

  private[graft] val WindowSeconds = 3600L

  private[graft] def lastTouch(s: SparkSession, d: String): DataFrame = {
    val e = load(s, d, "events")
    val views = e.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
    val buys = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value"))
    val pairs = TemporalJoins.directedWindowJoin(
      views, buys, "user_id", "view_ts", "purchase_ts", WindowSeconds)
    val w = Window.partitionBy(col("purchase_id"))
      .orderBy(col("view_ts").desc, col("view_id").desc)
    val last = pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("purchase_id"), col("view_id"), col("view_ts"))
    buys.join(last, Seq("purchase_id"), "left")
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("value"), col("view_id"), col("view_ts"))
  }

  private val q97 = QueryDef(
    (s, d) => lastTouch(s, d),
    Some(s"""WITH v AS (
              SELECT event_id AS view_id, user_id, ts AS view_ts
              FROM events WHERE event_type = 'view'
            ), p AS (
              SELECT event_id AS purchase_id, user_id,
                ts AS purchase_ts, value
              FROM events WHERE event_type = 'purchase'
            ), pairs AS (
              SELECT p.purchase_id, v.view_id, v.view_ts
              FROM p JOIN v ON v.user_id = p.user_id
                AND epoch_us(p.purchase_ts) - epoch_us(v.view_ts)
                    BETWEEN 0 AND ${WindowSeconds * 1000000L}
            ), last AS (
              SELECT purchase_id, view_id, view_ts
              FROM (SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY purchase_id
                      ORDER BY view_ts DESC, view_id DESC) AS rn
                    FROM pairs)
              WHERE rn = 1
            )
            SELECT p.purchase_id, p.user_id, p.purchase_ts, p.value,
              l.view_id, l.view_ts
            FROM p LEFT JOIN last l USING (purchase_id)"""),
    "last-touch conversion attribution (1h window) [events,temporal-join]")

  /** q215: position-based (U-shaped) multi-touch attribution — the
    * fractional-credit generalization of q97's winner-takes-all: every
    * same-user view in the hour before a purchase gets a share of the
    * purchase value. Standard U-shape weights: a single touch takes
    * 100%, two touches split 50/50, three-plus give first and last
    * 40% each and divide the remaining 20% over the middles.
    *
    * Exactness: weights are integer parts-per-million. Middles get
    * `200000 div (n−2)` ppm each; the division remainder is assigned
    * to the LAST touch (deterministic, documented), so per-purchase
    * ppm sums to exactly 1,000,000 and credit is conserved: credit is
    * emitted as `cents × ppm` (an exact integer in 10⁻⁶-cent units)
    * whose per-purchase sum is exactly `1000000 × cents`.
    *
    * Scale: candidate pairs come from the same
    * [[TemporalJoins.directedWindowJoin]] as q97 — (user, hour-bucket)
    * keyed, never an inequality join — and both window passes
    * (position, touch count) share one purchase-keyed sort over the
    * bounded per-purchase candidate set. No second shuffle: rank and
    * count use the same window partitioning.
    */
  private val q215 = QueryDef(
    (s, d) => {
      val e = load(s, d, "events")
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts").as("view_ts"))
      val buys = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"),
          graft.common.Exact.cents(col("value")).as("cents"))
      val pairs = TemporalJoins.directedWindowJoin(
        views, buys, "user_id", "view_ts", "purchase_ts", WindowSeconds)
      val byBuy = Window.partitionBy(col("purchase_id"))
        .orderBy(col("view_ts").asc, col("view_id").asc)
      val all = Window.partitionBy(col("purchase_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      pairs
        .withColumn("rn", row_number().over(byBuy).cast("long"))
        .withColumn("n_touches", count(lit(1)).over(all).cast("long"))
        .withColumn("ppm",
          when(col("n_touches") === 1L, lit(1000000L))
            .when(col("n_touches") === 2L, lit(500000L))
            .when(col("rn") === 1L, lit(400000L))
            .when(col("rn") === col("n_touches"),
              lit(400000L) + (lit(200000L) -
                (col("n_touches") - 2L) *
                  expr("200000L div (n_touches - 2L)")))
            .otherwise(expr("200000L div (n_touches - 2L)")))
        .select(col("purchase_id"), col("view_id"), col("rn"),
          col("n_touches"), col("ppm"),
          (col("cents") * col("ppm")).as("credit_ppm_cents"))
    },
    Some(s"""WITH v AS (
              SELECT event_id AS view_id, user_id, ts AS view_ts
              FROM events WHERE event_type = 'view'
            ), p AS (
              SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
                ${graft.common.Exact.centsSql("value")} AS cents
              FROM events WHERE event_type = 'purchase'
            ), pairs AS (
              SELECT p.purchase_id, v.view_id, v.view_ts, p.cents
              FROM p JOIN v ON v.user_id = p.user_id
                AND epoch_us(p.purchase_ts) - epoch_us(v.view_ts)
                    BETWEEN 0 AND ${WindowSeconds * 1000000L}
            ), ranked AS (
              SELECT purchase_id, view_id, cents,
                CAST(ROW_NUMBER() OVER (PARTITION BY purchase_id
                  ORDER BY view_ts ASC, view_id ASC) AS BIGINT) AS rn,
                CAST(COUNT(*) OVER (PARTITION BY purchase_id) AS BIGINT)
                  AS n_touches
              FROM pairs
            )
            SELECT purchase_id, view_id, rn, n_touches,
              CASE WHEN n_touches = 1 THEN 1000000
                   WHEN n_touches = 2 THEN 500000
                   WHEN rn = 1 THEN 400000
                   WHEN rn = n_touches THEN 400000 + (200000 -
                     (n_touches - 2) * (200000 // (n_touches - 2)))
                   ELSE 200000 // (n_touches - 2) END AS ppm,
              cents * (CASE WHEN n_touches = 1 THEN 1000000
                   WHEN n_touches = 2 THEN 500000
                   WHEN rn = 1 THEN 400000
                   WHEN rn = n_touches THEN 400000 + (200000 -
                     (n_touches - 2) * (200000 // (n_touches - 2)))
                   ELSE 200000 // (n_touches - 2) END)
                AS credit_ppm_cents
            FROM ranked"""),
    "U-shaped multi-touch attribution: integer ppm credit, conserved " +
      "per purchase [events,temporal-join]")

  /** q251's value scale (micro-units), fixed round count, and the
    * channel vocabulary (every non-purchase event type). Fixed rounds +
    * integer div is the q140/q200 discipline: the semantics is "reach
    * conversion within R hops", defined identically in both engines —
    * a converged float solve is partial-order-dependent and
    * un-hash-comparable.
    */
  private val MkScale = 1000000L
  private val MkRounds = 8
  private val MkChannels = Seq("click", "error", "signup", "view")

  /** q251: Markov removal-effect attribution — the data-driven
    * multi-touch model beside last-touch (q97) and position-based
    * U-shape (q215): build the first-order journey chain
    * START → channels → {CONV, NULL}, score each channel by how much
    * the chain's START→CONV probability drops when every transition
    * into that channel is redirected to NULL (Anderl et al.'s removal
    * effect), and normalize the drops into attribution shares.
    *
    * Journey semantics: per user, events order by (ts, event_id) and
    * truncate at the FIRST purchase (→ CONV); a journey with no
    * purchase ends in NULL. One corpus exchange (the user window)
    * builds the transition counts; everything after runs on the
    * ≤ 6×6-state matrix × 5 chains (base + one removal per channel),
    * localCheckpointed so the statically-unrolled value iteration
    * replans nothing (q200's cut).
    *
    * Exactness: probabilities stay COUNTS — the R-round value
    * iteration computes v'(s) = (Σ_t c_st·val(t)) div c_s in scaled
    * integers (bounds: c·S ≤ 10¹⁸ at a 10¹²-transition corpus), the
    * removal effect is the terminal double (v_base−v_x)/v_base, and
    * the SHARE denominator is the exact integer k·v_base − Σv_x, so
    * no cross-channel float summation order exists at all.
    */
  private val q251 = QueryDef(
    (s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val ev = load(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("rn", row_number().over(byUser))
        .withColumn("nxt", lead(col("event_type"), 1).over(byUser))
        .withColumn("fp",
          min(when(col("event_type") === "purchase", col("rn")))
            .over(Window.partitionBy(col("user_id"))))
      val starts = ev.filter(col("rn") === 1)
        .select(lit("START").as("src"),
          when(col("event_type") === "purchase", "CONV")
            .otherwise(col("event_type")).as("dst"))
      val steps = ev.filter(col("event_type") =!= "purchase" &&
          (col("fp").isNull || col("rn") < col("fp")))
        .select(col("event_type").as("src"),
          when(col("nxt").isNull, "NULL")
            .when(col("nxt") === "purchase", "CONV")
            .otherwise(col("nxt")).as("dst"))
      val trans = starts.unionByName(steps)
        .groupBy(col("src"), col("dst"))
        .agg(graft.common.Exact.lcountAll.as("c"))
      // The transition-count matrix is STRUCTURALLY bounded by the
      // channel vocabulary — ≤ (|channels|+3)² cells however large the
      // corpus (the event-type domain, not the event count, sets its
      // size) — so the one corpus exchange above is the whole
      // distributed computation, and the 8-round value iteration runs
      // driver-side on the collected matrix (the q59 bounded-driver-
      // state discipline; r16 optimization: the unrolled 8×(join+agg)
      // DataFrame loop spent ~2.5 s in Catalyst planning alone to move
      // ≤180 rows). Identical integer semantics: all counts and values
      // are non-negative i64, so Scala `/` equals Spark's `div`.
      val mat = trans.limit(10001).collect().map { r =>
        (r.getString(0), r.getString(1), r.getLong(2))
      }
      require(mat.length <= 10000,
        s"q251: transition matrix unexpectedly large (${mat.length} cells)")
      val chainNames = "base" +: MkChannels.map("no_" + _)
      // empty corpus → no START transitions → the original emitted zero
      // rows (vStart empty); preserve that exactly
      val vStart: Seq[(String, Long)] = if (mat.isEmpty) Nil
      else chainNames.map { chain =>
        val chained = mat.iterator
          .filter { case (src, _, _) => "no_" + src != chain }
          .map { case (src, dst, c) =>
            (src, if ("no_" + dst == chain) "NULL" else dst, c)
          }.toSeq
          .groupBy(t => (t._1, t._2))
          .map { case ((src, dst), xs) => (src, dst, xs.map(_._3).sum) }
          .toSeq
        val ct: Map[String, Long] = chained.groupBy(_._1)
          .map { case (src, xs) => src -> xs.map(_._3).sum }
        var v: Map[String, Long] =
          chained.map(_._1).distinct.map(_ -> 0L).toMap
        for (_ <- 1 to MkRounds) {
          v = chained.groupBy(_._1).map { case (src, xs) =>
            val cv = xs.map { case (_, dst, c) =>
              val tv = dst match {
                case "CONV" => MkScale
                case "NULL" => 0L
                case n => v.getOrElse(n, 0L)
              }
              c * tv
            }.sum
            src -> cv / ct(src)
          }
        }
        chain -> v.getOrElse("START", 0L)
      }
      val vBase = vStart.collectFirst { case ("base", x) => x }.getOrElse(0L)
      val rem = vStart.collect { case (chain, x) if chain != "base" =>
        (chain.substring(3), x)
      }
      val sumRem = rem.map(_._2).sum
      val k = rem.size.toLong
      // divide-by-zero → null, matching Spark's non-ANSI Divide
      val rows: java.util.List[org.apache.spark.sql.Row] = {
        import scala.jdk.CollectionConverters._
        rem.map { case (channel, vRemoved) =>
          val effect: java.lang.Double =
            if (vBase == 0L) null
            else java.lang.Double.valueOf(
              (vBase - vRemoved).toDouble / vBase.toDouble)
          val denom = k * vBase - sumRem
          val share: java.lang.Double =
            if (denom == 0L) null
            else java.lang.Double.valueOf(
              (vBase - vRemoved).toDouble / denom.toDouble)
          org.apache.spark.sql.Row(channel, vBase, vRemoved, effect, share)
        }.asJava
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("channel",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v_base",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v_removed",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("removal_effect",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("share",
          org.apache.spark.sql.types.DoubleType)))
      s.createDataFrame(rows, schema)
    },
    Some {
      val chainList = ("base" +: MkChannels.map("no_" + _))
        .map(c => s"'$c'").mkString(", ")
      val rounds = (1 to MkRounds).map { r =>
        val prev = if (r == 1) "v0" else s"v${r - 1}"
        s"""v$r AS (
              SELECT ch.chain, ch.src AS node,
                CAST(SUM(ch.c * (CASE WHEN ch.dst = 'CONV' THEN $MkScale
                  WHEN ch.dst = 'NULL' THEN 0
                  ELSE COALESCE(p.v, 0) END)) // ch.ct AS BIGINT) AS v
              FROM ch LEFT JOIN $prev p
                ON p.chain = ch.chain AND p.node = ch.dst
              GROUP BY 1, 2, ch.ct
            )"""
      }.mkString(", ")
      s"""WITH seq AS (
            SELECT user_id, event_type,
              ROW_NUMBER() OVER (PARTITION BY user_id
                ORDER BY ts ASC, event_id ASC) AS rn,
              LEAD(event_type) OVER (PARTITION BY user_id
                ORDER BY ts ASC, event_id ASC) AS nxt,
              MIN(CASE WHEN event_type = 'purchase' THEN rn_i END)
                OVER (PARTITION BY user_id) AS fp
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY ts ASC, event_id ASC) AS rn_i FROM events)
          ), tr AS (
            SELECT 'START' AS src,
              CASE WHEN event_type = 'purchase' THEN 'CONV'
                ELSE event_type END AS dst
            FROM seq WHERE rn = 1
            UNION ALL
            SELECT event_type AS src,
              CASE WHEN nxt IS NULL THEN 'NULL'
                WHEN nxt = 'purchase' THEN 'CONV'
                ELSE nxt END AS dst
            FROM seq
            WHERE event_type <> 'purchase' AND (fp IS NULL OR rn < fp)
          ), tc AS (
            SELECT src, dst, CAST(count(*) AS BIGINT) AS c
            FROM tr GROUP BY 1, 2
          ), ch0 AS (
            SELECT ch.chain, tc.src,
              CASE WHEN 'no_' || tc.dst = ch.chain THEN 'NULL'
                ELSE tc.dst END AS dst,
              tc.c
            FROM tc CROSS JOIN (SELECT unnest([$chainList]) AS chain) ch
            WHERE 'no_' || tc.src <> ch.chain
          ), ch1 AS (
            SELECT chain, src, dst, CAST(SUM(c) AS BIGINT) AS c
            FROM ch0 GROUP BY 1, 2, 3
          ), ch AS (
            SELECT chain, src, dst, c,
              CAST(SUM(c) OVER (PARTITION BY chain, src) AS BIGINT) AS ct
            FROM ch1
          ), v0 AS (
            SELECT DISTINCT chain, src AS node, CAST(0 AS BIGINT) AS v
            FROM ch
          ), $rounds, vstart AS (
            SELECT chain, v FROM v$MkRounds WHERE node = 'START'
          ), b AS (
            SELECT v AS v_base FROM vstart WHERE chain = 'base'
          ), rem AS (
            SELECT substring(chain, 4) AS channel, v AS v_removed
            FROM vstart WHERE chain <> 'base'
          ), sr AS (
            SELECT CAST(SUM(v_removed) AS BIGINT) AS sum_removed,
              CAST(count(*) AS BIGINT) AS k
            FROM rem
          )
          SELECT r.channel, b.v_base, r.v_removed,
            CAST(b.v_base - r.v_removed AS DOUBLE)
              / CAST(b.v_base AS DOUBLE) AS removal_effect,
            CASE WHEN sr.k * b.v_base - sr.sum_removed = 0 THEN NULL
              ELSE CAST(b.v_base - r.v_removed AS DOUBLE)
                / CAST(sr.k * b.v_base - sr.sum_removed AS DOUBLE)
              END AS share
          FROM rem r, b, sr"""
    },
    "Markov removal-effect attribution: integer value iteration over " +
      "the journey chain, exact-integer share denominator [attribution]")

  def all: Seq[(String, QueryDef)] = Seq(
    "q97_conversion_attribution" -> q97,
    "q215_ushape_attribution" -> q215,
    "q251_markov_attribution" -> q251)
}

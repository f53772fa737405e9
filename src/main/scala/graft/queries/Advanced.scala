package graft.queries

import graft.QueryDef
import graft.common.Exact._
import graft.common.Tables.load
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Advanced relational surface beyond the reference (engine-completeness:
  * correlated/scalar subqueries exercising Catalyst decorrelation, pivot,
  * cube, the full ranking family, conditional aggregation).
  */
object Advanced {

  /** Scalar-subquery shape (TPC-H Q17): lineitems below 50% of their
    * part's average quantity. Expressed as groupBy + self-join (the plan
    * Catalyst decorrelates a correlated subquery into anyway — written
    * directly so the intent is visible) with the avg in exact decimal.
    */
  private val q47 = QueryDef(
    (s, d) => {
      val li = load(s, d, "lineitem")
      val avgQty = li.groupBy("l_partkey")
        .agg(davg(col("l_quantity")).as("avg_qty"))
      li.join(avgQty, "l_partkey")
        .filter(col("l_quantity") < col("avg_qty") * 0.5)
        .groupBy(col("l_partkey"))
        .agg(lcountAll.as("n_small_lines"),
          dsum(col("l_extendedprice")).as("small_revenue"))
    },
    Some("""WITH a AS (
              SELECT l_partkey,
                CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity) AS DOUBLE) AS avg_qty
              FROM lineitem GROUP BY 1
            )
            SELECT l.l_partkey,
              CAST(COUNT(*) AS BIGINT) AS n_small_lines,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS small_revenue
            FROM lineitem l JOIN a ON l.l_partkey = a.l_partkey
            WHERE l.l_quantity < a.avg_qty * 0.5
            GROUP BY 1"""),
    "scalar-subquery shape: below-part-average filter [subquery]")

  /** Pivot: order counts by year x status (wide output). */
  private val q48 = QueryDef(
    (s, d) =>
      load(s, d, "orders")
        .groupBy(year(col("o_orderdate")).as("order_year"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("order_year"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p")),
    Some("""SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
              CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS n_f,
              CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS n_o,
              CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS n_p
            FROM orders GROUP BY 1"""),
    "pivot orders by year x status [pivot]")

  /** Ranking family: rank / dense_rank / ntile / percent_rank / cume_dist
    * over one window spec (one shuffle, one sort).
    */
  private val q49 = QueryDef(
    (s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("total_spend").desc, col("o_custkey").asc)
      val spend = load(s, d, "orders")
        .join(load(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("o_custkey"))
        .agg(dsum(col("o_totalprice")).as("total_spend"))
      spend
        .withColumn("rnk", rank().over(w))
        .withColumn("drnk", dense_rank().over(w))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pct_rank", percent_rank().over(w))
        .filter(col("rnk") <= 20)
        .select(col("c_mktsegment"), col("o_custkey"), col("total_spend"),
          col("rnk").cast("long").as("rnk"),
          col("drnk").cast("long").as("drnk"),
          col("quartile").cast("int").as("quartile"),
          col("pct_rank"))
    },
    Some("""WITH spend AS (
              SELECT c_mktsegment, o_custkey,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY 1, 2
            )
            SELECT c_mktsegment, o_custkey, total_spend,
              CAST(rnk AS BIGINT) AS rnk, CAST(drnk AS BIGINT) AS drnk,
              CAST(quartile AS INTEGER) AS quartile, pct_rank
            FROM (SELECT *,
                    RANK() OVER w AS rnk,
                    DENSE_RANK() OVER w AS drnk,
                    NTILE(4) OVER w AS quartile,
                    PERCENT_RANK() OVER w AS pct_rank
                  FROM spend
                  WINDOW w AS (PARTITION BY c_mktsegment
                               ORDER BY total_spend DESC, o_custkey ASC))
            WHERE rnk <= 20"""),
    "rank/dense_rank/ntile/percent_rank battery [ranking]")

  /** Cube: all grouping-set combinations of (status, priority). */
  private val q50 = QueryDef(
    (s, d) =>
      load(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(lcountAll.as("n_orders"), dsum(col("o_totalprice")).as("revenue")),
    Some("""SELECT o_orderstatus, o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"""),
    "cube grouping sets [agg extension]")

  /** Conditional aggregation battery: filtered aggregates in one pass
    * (the dashboard-query staple; partial aggregation applies normally).
    */
  private val q51 = QueryDef(
    (s, d) =>
      load(s, d, "lineitem").agg(
        lcountAll.as("n_rows"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .cast("long").as("n_returned"),
        dsum(when(col("l_returnflag") === "R", col("l_extendedprice"))
          .otherwise(lit(0.0))).as("returned_revenue"),
        sum(when(col("l_quantity") > 45.0, 1L).otherwise(0L)).cast("long")
          .as("n_bulk"),
        davg(when(col("l_linestatus") === "F", col("l_discount")))
          .as("avg_f_discount")),
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
              CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE) AS returned_revenue,
              CAST(SUM(CASE WHEN l_quantity > 45.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bulk,
              CAST(CAST(SUM(CAST(CASE WHEN l_linestatus = 'F' THEN l_discount END AS DECIMAL(18,4))) AS DOUBLE)
                   / COUNT(CASE WHEN l_linestatus = 'F' THEN l_discount END) AS DOUBLE) AS avg_f_discount
            FROM lineitem"""),
    "conditional aggregation battery [agg]")

  /** q178: order-to-ship lead time quartiles per order priority — the
    * fulfillment-SLA table ("URGENT orders ship in a median of N
    * days"). The heavy shuffle ends at a (priority, lead_days) count
    * frame (lead days are calendar-bounded), never a per-row sort — the
    * per-group ROW_NUMBER formulation would hand one task the whole
    * priority class at 100 TB. The line→order join picks up priority
    * with the orders side keyed on the same join key as the fact.
    * r17: the quartile selection over that calendar-bounded histogram
    * (≤ |priorities|·|calendar days| cells at ANY corpus size) moved
    * from two window passes + a re-aggregation to a driver-side sweep
    * on the collected histogram (the q251 bounded-driver-state
    * discipline, size-guarded) — one fewer exchange, no per-group
    * serial window task, identical positional-rank arithmetic.
    */
  private lazy val q178 = QueryDef(
    (s, d) => positionalQuartilesCollected(s,
      load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
        .join(load(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderdate"),
            col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
            .cast("long").as("lead_days")),
      "o_orderpriority", "lead_days"),
    Some("""WITH g AS (
              SELECT o_orderpriority,
                CAST(date_diff('day', CAST(o_orderdate AS DATE),
                  CAST(l_shipdate AS DATE)) AS BIGINT) AS lead_days
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            ), r AS (
              SELECT o_orderpriority, lead_days,
                ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                  ORDER BY lead_days) AS rn,
                COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
              FROM g
            )
            SELECT o_orderpriority, CAST(n AS BIGINT) AS n_rows,
              CAST(min(CASE WHEN rn = greatest((n+1)*1//4, 1) THEN lead_days END) AS DOUBLE) AS p25,
              CAST(min(CASE WHEN rn = greatest((n+1)*2//4, 1) THEN lead_days END) AS DOUBLE) AS median,
              CAST(min(CASE WHEN rn = greatest((n+1)*3//4, 1) THEN lead_days END) AS DOUBLE) AS p75
            FROM r
            WHERE rn IN (greatest((n+1)*1//4, 1), greatest((n+1)*2//4, 1),
                         greatest((n+1)*3//4, 1))
            GROUP BY 1, 2"""),
    "fulfillment lead-time quartiles per priority: histogram-positional, exact [quantiles]")

  /** Trim fraction denominator for q224: k = n div 10 rows cut from
    * EACH side (a 10% symmetric trim — the robust-mean convention).
    */
  private val TrimDen = 10L

  /** q224: exact 10%-trimmed mean of order totals per priority — the
    * robust center a pricing dashboard quotes when a handful of mega-
    * orders would drag the plain mean (the q120 median/MAD family's
    * "mean that survives outliers" sibling). Cut the k = n div 10
    * smallest and largest cents per group, average what's left.
    *
    * Scale: rides q81/q178's histogram-positional engine — the heavy
    * shuffle ends at a (priority, cents) count frame (the cents DOMAIN
    * is price-bounded, not corpus-proportional), and the kept mass is
    * rank-interval OVERLAP arithmetic on the cumulative histogram:
    * each value row keeps max(0, min(cum, n−k) − max(cum−c, k)) of its
    * multiplicity. No per-row rank window ever touches the corpus —
    * the per-group ROW_NUMBER formulation would hand one task a whole
    * priority class at 100 TB.
    *
    * Exactness: counts, cumulative ranks, overlap takes, and the kept
    * cents sum are pure integers; the trimmed mean is the single
    * terminal double division. The sum ACCUMULATES in DECIMAL(38,0)
    * but is EMITTED as BIGINT — per-priority kept cents are bounded by
    * that priority's total revenue (~4.5e17 cents at a 100 TB corpus,
    * comfortably under 2^63), and the driver's hash canonicalization
    * handles BIGINT but not DECIMAL (the q89 surface rule, enforced by
    * QuerySurfaceSpec's type whitelist).
    */
  /** Round-15/16 windowed take-overlap formulation, kept as the
    * empty-corpus fallback (zero rows either way).
    */
  private def q224Windowed(src: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val byGrp = Window.partitionBy(col("grp"))
    val hist = src
      .groupBy(col("grp"), col("v"))
      .agg(count(lit(1)).as("c"))
    hist
      // rows ≡ range on the distinct (grp, v) histogram; row frame is
      // the cheaper evaluator (r17)
      .withColumn("cum", sum(col("c")).over(byGrp.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(byGrp))
      .withColumn("k", expr(s"n div $TrimDen"))
      .withColumn("take",
        greatest(least(col("cum"), col("n") - col("k")) -
          greatest(col("cum") - col("c"), col("k")), lit(0L)))
      .filter(col("take") > 0L)
      .groupBy(col("grp"))
      .agg(max(col("n")).as("n_rows"), max(col("k")).as("k_trim"),
        sum(col("take").cast("decimal(38,0)") * col("v"))
          .cast("long").as("kept_cents"),
        sum(col("take")).as("n_kept"))
      .select(col("grp").as("o_orderpriority"),
        col("n_rows"), col("k_trim"), col("kept_cents"),
        col("n_kept"),
        (col("kept_cents").cast("double") /
          col("n_kept").cast("double")).as("trimmed_mean_cents"))
  }

  /** Coarse bucket width of q224's two-phase selection: $1000 in cents
    * over o_totalprice. Same driver-state/sliver bounds as q247's
    * [[WqBucket]] (totalprice domain is wider than line price, so the
    * bucket is coarser).
    */
  private val TmBucket = 100000L

  private lazy val q224 = QueryDef(
    (s, d) => {
      // r17 two-phase selection (guide §2/§5): kept mass = F(n−k) − F(k)
      // where F(r) is the mass of the r cheapest orders. The r16 shape
      // ran per-priority cumulative windows over the FULL value
      // histogram (price-domain-bounded, but a serial ~10⁵-row task per
      // priority on the critical path). Now a coarse $1000-bucket
      // (count, mass) histogram collects to the driver (price-domain/B
      // cells, guarded), the driver locates each rank's bucket and its
      // exact prefix (count, mass), and one sliver pass over ONLY the
      // two boundary buckets per priority computes the within-bucket
      // partial — nothing corpus-sized is ever sorted in one task. All
      // arithmetic stays integer/decimal; the trimmed mean is the same
      // single terminal double division.
      val src = load(s, d, "orders")
        .select(col("o_orderpriority").as("grp"),
          cents(col("o_totalprice")).as("v"))
      def bucketCol = col("v") - pmod(col("v"), lit(TmBucket))
      val coarse = src
        .groupBy(col("grp"), bucketCol.as("cb"))
        .agg(count(lit(1)).as("c"),
          sum(col("v").cast("decimal(38,0)")).as("m"))
        .limit(500001)
        .collect()
      require(coarse.length <= 500000,
        s"q224 coarse histogram ${coarse.length} cells - price domain " +
          "assumption broken")
      if (coarse.isEmpty) q224Windowed(src)
      else {
        // per priority: n, k, and for each rank target r ∈ {k, n−k}
        // the boundary bucket plus exact prefix count/mass before it
        val meta = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
        val targets = coarse.groupBy(_.getString(0)).toSeq
          .flatMap { case (grp, rows) =>
            val sorted = rows.map(r => (r.getLong(1), r.getLong(2),
              BigDecimal(r.getDecimal(3)))).sortBy(_._1)
            val n = sorted.map(_._2).sum
            val k = n / TrimDen
            meta(grp) = (n, k)
            Seq((1, k), (2, n - k)).filter(_._2 > 0).map { case (which, r) =>
              var cum = 0L; var mass = BigDecimal(0); var i = 0
              while (i < sorted.length && cum + sorted(i)._2 < r) {
                cum += sorted(i)._2; mass += sorted(i)._3; i += 1
              }
              (grp, which, r, sorted(i)._1, cum, mass.bigDecimal)
            }
          }
        import s.implicits._
        val tgtDf = targets.toDF("grp", "which", "r", "cb", "cum_prev",
          "mass_prev")
        val bucketOf = targets.groupBy(_._1).view
          .mapValues(_.map(_._4).distinct).toMap
        val pred = bucketOf.toSeq.map { case (g, cbs) =>
          col("grp") === g && bucketCol.isin(cbs: _*)
        }.reduce(_ || _)
        val sliver = src.filter(pred)
          .groupBy(col("grp"), col("v"))
          .agg(count(lit(1)).as("c"))
          .withColumn("cb", bucketCol)
          .join(broadcast(tgtDf), Seq("grp", "cb"))
        val w = Window.partitionBy(col("grp"), col("which"))
          .orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = sliver
          .withColumn("cumw", col("cum_prev") + sum(col("c")).over(w))
          .withColumn("massw", col("mass_prev").cast("decimal(38,0)") +
            sum(col("v").cast("decimal(38,0)") * col("c")).over(w))
        // F(r): prefix mass at the boundary value vb (smallest v with
        // cumw ≥ r), trimmed back by the (cumw − r) surplus copies of vb
        val f = cum
          .filter(col("cumw") >= col("r"))
          .groupBy(col("grp"), col("which"), col("r"))
          .agg(min(struct(col("v"), col("cumw"), col("massw"))).as("b"))
          .select(col("grp"), col("which"),
            (col("b.massw") - (col("b.cumw") - col("r"))
              .cast("decimal(38,0)") * col("b.v")).as("fr"))
        val metaDf = meta.toSeq.map { case (g, (n, k)) => (g, n, k) }
          .toDF("grp", "n_rows", "k_trim")
        f.groupBy(col("grp"))
          .agg(
            coalesce(sum(when(col("which") === 1, col("fr"))),
              lit(0).cast("decimal(38,0)")).as("f_k"),
            sum(when(col("which") === 2, col("fr"))).as("f_nk"))
          .join(broadcast(metaDf), Seq("grp"))
          .select(col("grp").as("o_orderpriority"),
            col("n_rows"), col("k_trim"),
            (col("f_nk") - col("f_k")).cast("long").as("kept_cents"),
            (col("n_rows") - lit(2) * col("k_trim")).as("n_kept"),
            ((col("f_nk") - col("f_k")).cast("long").cast("double") /
              (col("n_rows") - lit(2) * col("k_trim")).cast("double"))
              .as("trimmed_mean_cents"))
      }
    },
    Some(s"""WITH g AS (
              SELECT o_orderpriority AS grp,
                ${centsSql("o_totalprice")} AS v
              FROM orders
            ), h AS (
              SELECT grp, v, CAST(count(*) AS BIGINT) AS c
              FROM g GROUP BY 1, 2
            ), w AS (
              SELECT grp, v, c,
                CAST(SUM(c) OVER (PARTITION BY grp ORDER BY v)
                  AS BIGINT) AS cum,
                CAST(SUM(c) OVER (PARTITION BY grp) AS BIGINT) AS n
              FROM h
            ), t AS (
              SELECT grp, v, c, cum, n, n // $TrimDen AS k,
                GREATEST(LEAST(cum, n - n // $TrimDen)
                  - GREATEST(cum - c, n // $TrimDen), 0) AS take
              FROM w
            )
            SELECT grp AS o_orderpriority,
              CAST(MAX(n) AS BIGINT) AS n_rows,
              CAST(MAX(k) AS BIGINT) AS k_trim,
              CAST(SUM(CAST(take AS HUGEINT) * v) AS BIGINT)
                AS kept_cents,
              CAST(SUM(take) AS BIGINT) AS n_kept,
              CAST(SUM(CAST(take AS HUGEINT) * v) AS DOUBLE)
                / CAST(SUM(take) AS DOUBLE) AS trimmed_mean_cents
            FROM t WHERE take > 0 GROUP BY 1"""),
    "exact symmetric trimmed mean per group: rank-interval overlap " +
      "on the cumulative value histogram [quantiles]")

  /** q238: dispersion index (variance-to-mean ratio) of per-order line
    * counts by priority — the "is arrival Poisson or bursty" screen a
    * capacity planner runs before sizing anything on a mean: D = 1 is
    * Poisson, D > 1 over-dispersed (bursty baskets), D < 1 regular.
    * Computed as the exact rational D = (n·Σk² − (Σk)²) / (n·Σk) with
    * the integer numerator/denominator emitted as auditable evidence.
    *
    * Scale: one orderkey-keyed fold builds per-order line counts (the
    * lineitem shuffle every per-order operator pays), an UNHINTED key
    * join attaches priority (orders is fact-grain — the q149 rule),
    * then one map-side-combined aggregate to the 5-row priority frame.
    * Moments fold in DECIMAL(38,0): n·Σk² ≈ 49·n² overflows i64 on a
    * fact table (q163's bound — ~4e22 at a 100 TB corpus's 3e10 orders
    * per priority), so the evidence columns are EMITTED as canonical
    * decimal STRINGs (the q89 surface rule: the driver's hash
    * canonicalization handles STRING/BIGINT, not DECIMAL; BIGINT would
    * silently overflow exactly at the scale this engine targets).
    *
    * Exactness: numerator and denominator are exact integers; D and
    * the mean are single terminal divisions — hash-exact.
    */
  private lazy val q238 = QueryDef(
    (s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val perOrder = load(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("k"))
      val withPrio = perOrder.join(
        load(s, d, "orders").select(col("o_orderkey"),
          col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      val m = withPrio.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast(dec).as("n"),
          sum(col("k").cast(dec)).as("sk"),
          sum((col("k") * col("k")).cast(dec)).as("skk"))
      m.select(col("o_orderpriority"),
          col("n").cast("long").as("n_orders"),
          (col("n") * col("skk") - col("sk") * col("sk"))
            .cast("decimal(38,0)").as("num_d"),
          (col("n") * col("sk")).cast("decimal(38,0)").as("den_d"),
          (col("sk").cast("double") / col("n").cast("double"))
            .as("mean_lines"))
        .select(col("o_orderpriority"), col("n_orders"),
          col("num_d").cast("string").as("disp_num"),
          col("den_d").cast("string").as("disp_den"),
          col("mean_lines"),
          (col("num_d").cast("double") / col("den_d").cast("double"))
            .as("dispersion"))
    },
    Some("""WITH po AS (
              SELECT l_orderkey, CAST(count(*) AS BIGINT) AS k
              FROM lineitem GROUP BY 1
            ), j AS (
              SELECT o.o_orderpriority, po.k
              FROM po JOIN orders o ON po.l_orderkey = o.o_orderkey
            ), m AS (
              SELECT o_orderpriority,
                CAST(count(*) AS HUGEINT) AS n,
                CAST(SUM(k) AS HUGEINT) AS sk,
                SUM(CAST(k AS HUGEINT) * k) AS skk
              FROM j GROUP BY 1
            )
            SELECT o_orderpriority,
              CAST(n AS BIGINT) AS n_orders,
              CAST(n * skk - sk * sk AS VARCHAR) AS disp_num,
              CAST(n * sk AS VARCHAR) AS disp_den,
              CAST(sk AS DOUBLE) / CAST(n AS DOUBLE) AS mean_lines,
              CAST(n * skk - sk * sk AS DOUBLE)
                / CAST(n * sk AS DOUBLE) AS dispersion
            FROM m"""),
    "dispersion index of per-order line counts: exact rational " +
      "variance-to-mean per priority [profiling]")

  /** q247: WEIGHTED quartiles — per return flag, the line-value quartiles
    * of the shipped UNITS, not of the lines ("half the units we ship
    * sit on order lines worth ≤ median"). The mass-weighted sibling of
    * q81/q178's positional quartiles, and the exact form of the
    * token-weighted length percentiles a training-data mix report
    * quotes (cost sits with tokens, not documents — a doc-weighted
    * median is dominated by cheap short docs).
    *
    * Semantics: lower weighted quantile — the smallest value v whose
    * cumulative weight reaches q·W (computed as 4·cumw ≥ k·W in
    * integers, no division). An actual data value, no interpolation.
    *
    * Scale (r17, guide §2/§5 — two-phase selection): the round-16 shape
    * ended the heavy shuffle at the full (mode, value-cents) weight
    * histogram and ran ONE cumulative-weight window task per return
    * flag over it — price-domain-bounded (corpus-invariant), so never a
    * 100 TB correctness hazard, but a serial ~10⁵–10⁷-row sort per
    * group on the critical path (measured: the window stage's 3 tasks
    * carried 1.6 task-s of the query's 1.3 s warm wall at sf0.1). Now a
    * COARSE $100-bucket weight histogram (≤ ~10³ buckets per flag —
    * two orders below the fine histogram, bounded by price-domain/B)
    * folds map-side and collects to the driver (r16's q251 bounded-
    * driver-state discipline, size-guarded); the driver locates each
    * quartile's bucket and its preceding cumulative weight in pure
    * integer arithmetic, and a second pass aggregates ONLY the rows of
    * the ≤3 target buckets per flag (a literal bucket-list filter —
    * nothing corpus-sized is ever sorted in one task; the within-bucket
    * running sum is over ≤ B distinct values). Identical semantics:
    * smallest v with 4·cumw ≥ k·wtot, all integer; weights sum in i64
    * (Σ quantity ≤ 50·|lineitem| — 3e12 at a 100 TB corpus, safe).
    * Empty-corpus behavior preserved by falling back to the windowed
    * formulation (zero rows either way).
    */
  /** Round-15/16 windowed formulation, kept as the empty-corpus
    * fallback so the degenerate path needs no special-casing.
    */
  private def q247Windowed(src: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val byMode = Window.partitionBy(col("mode"))
    val hist = src
      .groupBy(col("mode"), col("v"))
      .agg(sum(col("w")).as("wv"))
    val cum = hist
      .withColumn("cumw", sum(col("wv")).over(byMode.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("wtot", sum(col("wv")).over(byMode))
    def at(k: Int) =
      min(when(col("cumw") * 4 >= col("wtot") * k, col("v")))
    cum.groupBy(col("mode"), col("wtot").as("w_total"))
      .agg(at(1).as("wp25"), at(2).as("wp50"), at(3).as("wp75"))
      .select(col("mode").as("l_returnflag"), col("w_total"),
        col("wp25"), col("wp50"), col("wp75"))
  }

  /** Coarse bucket width of q247's two-phase selection: $100 in cents.
    * Bounds BOTH driver state (price-domain/B buckets per flag) and the
    * sliver pass (≤ B distinct values per target bucket).
    */
  private val WqBucket = 10000L

  private lazy val q247 = QueryDef(
    (s, d) => {
      val src = load(s, d, "lineitem")
        .select(col("l_returnflag").as("mode"),
          cents(col("l_extendedprice")).as("v"),
          col("l_quantity").cast("long").as("w"))
      def bucketCol = col("v") - pmod(col("v"), lit(WqBucket))
      // phase 1: coarse weight histogram, price-domain/B-bounded
      val coarse = src
        .groupBy(col("mode"), bucketCol.as("cb"))
        .agg(sum(col("w")).as("cwv"))
        .limit(500001)
        .collect()
      require(coarse.length <= 500000,
        s"q247 coarse histogram ${coarse.length} cells - price domain " +
          "assumption broken")
      if (coarse.isEmpty) q247Windowed(src)
      else {
        // driver-side: per flag, the bucket holding each weighted
        // quartile and the cumulative weight strictly before it
        val targets = coarse.groupBy(_.getString(0)).toSeq
          .flatMap { case (mode, rows) =>
            val sorted = rows.map(r => (r.getLong(1), r.getLong(2)))
              .sortBy(_._1)
            val wtot = sorted.map(_._2).sum
            (1 to 3).map { k =>
              var cum = 0L; var i = 0
              while (i < sorted.length &&
                  (cum + sorted(i)._2) * 4 < wtot * k) {
                cum += sorted(i)._2; i += 1
              }
              (mode, k, sorted(i)._1, cum, wtot)
            }
          }
        import s.implicits._
        val tgtDf = targets
          .toDF("mode", "k", "cb", "cum_prev", "wtot")
        val bucketOf = targets.groupBy(_._1).view
          .mapValues(_.map(_._3).distinct).toMap
        val pred = bucketOf.toSeq.map { case (m, cbs) =>
          col("mode") === m && bucketCol.isin(cbs: _*)
        }.reduce(_ || _)
        // phase 2: fine histogram of the target buckets only; the
        // running sum is per (flag, quartile) over ≤ B distinct values
        val sliver = src.filter(pred)
          .groupBy(col("mode"), col("v"))
          .agg(sum(col("w")).as("wv"))
          .withColumn("cb", bucketCol)
          .join(broadcast(tgtDf), Seq("mode", "cb"))
        val cum = sliver.withColumn("cumw",
          col("cum_prev") + sum(col("wv")).over(
            Window.partitionBy(col("mode"), col("k")).orderBy(col("v"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        def at(k: Int) =
          min(when(col("cumw") * 4 >= col("wtot") * k && col("k") === k,
            col("v")))
        cum.groupBy(col("mode"))
          .agg(max(col("wtot")).as("w_total"),
            at(1).as("wp25"), at(2).as("wp50"), at(3).as("wp75"))
          .select(col("mode").as("l_returnflag"), col("w_total"),
            col("wp25"), col("wp50"), col("wp75"))
      }
    },
    Some(s"""WITH h AS (
              SELECT l_returnflag AS mode,
                ${centsSql("l_extendedprice")} AS v,
                CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wv
              FROM lineitem GROUP BY 1, 2
            ), c AS (
              SELECT mode, v, wv,
                CAST(SUM(wv) OVER (PARTITION BY mode ORDER BY v)
                  AS BIGINT) AS cumw,
                CAST(SUM(wv) OVER (PARTITION BY mode) AS BIGINT) AS wtot
              FROM h
            )
            SELECT mode AS l_returnflag, wtot AS w_total,
              CAST(min(CASE WHEN cumw * 4 >= wtot * 1 THEN v END)
                AS BIGINT) AS wp25,
              CAST(min(CASE WHEN cumw * 4 >= wtot * 2 THEN v END)
                AS BIGINT) AS wp50,
              CAST(min(CASE WHEN cumw * 4 >= wtot * 3 THEN v END)
                AS BIGINT) AS wp75
            FROM c GROUP BY 1, 2"""),
    "quantity-weighted line-value quartiles per return flag: exact " +
      "histogram cumulative-weight picks [quantiles]")

  def all: Seq[(String, QueryDef)] = Seq(
    "q47_scalar_subquery" -> q47,
    "q48_pivot" -> q48,
    "q49_rank_family" -> q49,
    "q50_cube" -> q50,
    "q51_conditional_agg" -> q51,
    "q77_grouping_sets" -> q77,
    "q79_unpivot" -> q79,
    "q81_exact_quantiles" -> q81,
    "q178_leadtime_quartiles" -> q178,
    "q224_trimmed_mean" -> q224,
    "q238_dispersion_index" -> q238,
    "q247_weighted_quartiles" -> q247)

  /** Exact grouped quantiles by POSITION (lower median / quartiles at
    * ranks floor((n+1)·q)): unlike percentile_cont there is no
    * interpolation arithmetic, so the result is an actual data value
    * and engine-exact. Computed HISTOGRAM-style: per-(group, value)
    * counts with map-side combine, then a cumulative sum over each
    * group's distinct VALUES — the value at rank r is the smallest
    * value whose running count reaches r. A row_number formulation
    * sorts every group's raw rows inside one task per group (3 groups
    * here → 3 tasks own the corpus at 100 TB); this plan's heavy
    * shuffle ends at the tiny aggregated histogram instead. Exact for
    * discrete/bounded-cardinality values (l_quantity: 50 distinct);
    * the continuous-value path is q46's Greenwald-Khanna sketch.
    */
  /** Core of q81 over an explicit frame (specs exercise tiny groups the
    * natural tables never produce). Ranks are clamped to >= 1: for
    * groups with n < 3, floor((n+1)k/4) is 0 — an out-of-range position
    * that `cum >= 0` would silently resolve to the group's min while a
    * positional `rn = 0` lookup finds nothing. Clamping pins the
    * semantics to "quartile of a tiny group is its smallest value" in
    * both the engine and the oracle.
    */
  private[graft] def positionalQuartiles(
      df: org.apache.spark.sql.DataFrame,
      group: String, value: String): org.apache.spark.sql.DataFrame = {
    val byGroup = Window.partitionBy(col(group))
    val counts = df
      .groupBy(col(group), col(value))
      .agg(count(lit(1)).as("c"))
    // rows frame, not the default range frame: (group, value) rows are
    // distinct after the groupBy so the two are equivalent, and the
    // row-frame running-sum evaluator skips the per-row range-bound
    // comparisons (r17, guide §1.2 per-task work)
    val cum = counts
      .withColumn("cum", sum(col("c"))
        .over(byGroup.orderBy(col(value))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(byGroup))
    def at(k: Int): org.apache.spark.sql.Column =
      greatest(floor((col("n") + 1) * k / 4), lit(1)).cast("long")
    cum
      .groupBy(col(group), col("n").as("n_rows"))
      .agg(
        min(when(col("cum") >= at(1), col(value))).as("p25"),
        min(when(col("cum") >= at(2), col(value))).as("median"),
        min(when(col("cum") >= at(3), col(value))).as("p75"))
      .select(col(group), col("n_rows").cast("long").as("n_rows"),
        col("p25").cast("double").as("p25"),
        col("median").cast("double").as("median"),
        col("p75").cast("double").as("p75"))
  }

  /** Collected twin of [[positionalQuartiles]] for value domains that
    * are STRUCTURALLY bounded (l_quantity: 50 integers; lead days:
    * calendar-bounded): the corpus still folds map-side to the
    * (group, value) count histogram in Spark — the honest heavy
    * shuffle — but the quartile sweep runs driver-side on the collected
    * histogram instead of two window passes + a re-aggregation (r17,
    * guide §2: the q251/q200 bounded-driver-state discipline). One
    * fewer exchange and no serial per-group window task; identical
    * positional-rank arithmetic, size-guarded so a broken domain
    * assumption fails loudly rather than OOMing the driver. Output
    * rows are sorted by group for run-to-run determinism.
    */
  private[graft] def positionalQuartilesCollected(
      s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame,
      group: String, value: String): org.apache.spark.sql.DataFrame = {
    val hist = df
      .groupBy(col(group), col(value))
      .agg(count(lit(1)).as("c"))
      .select(col(group), col(value).cast("double").as("v"), col("c"))
      .limit(500001)
      .collect()
    require(hist.length <= 500000,
      s"positional-quartile histogram exceeds 500000 cells - bounded " +
        s"value-domain assumption broken for $group/$value")
    val out = hist.groupBy(_.getString(0)).toSeq.map { case (g, rows) =>
      val sorted = rows.map(r => (r.getDouble(1), r.getLong(2))).sortBy(_._1)
      val n = sorted.map(_._2).sum
      def at(k: Int): Long = math.max((n + 1) * k / 4, 1L)
      def pick(k: Int): Double = {
        var cum = 0L
        sorted.find { case (_, c) => cum += c; cum >= at(k) }.get._1
      }
      org.apache.spark.sql.Row(g, n, pick(1), pick(2), pick(3))
    }.sortBy(_.getString(0))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(group,
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p25",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("median",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("p75",
        org.apache.spark.sql.types.DoubleType)))
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava), schema)
  }

  private lazy val q81 = QueryDef(
    (s, d) => positionalQuartilesCollected(s,
      load(s, d, "lineitem"), "l_returnflag", "l_quantity"),
    Some("""WITH r AS (
              SELECT l_returnflag, l_quantity,
                ROW_NUMBER() OVER (PARTITION BY l_returnflag
                  ORDER BY l_quantity) AS rn,
                COUNT(*) OVER (PARTITION BY l_returnflag) AS n
              FROM lineitem
            )
            SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
              CAST(min(CASE WHEN rn = greatest((n+1)*1//4, 1) THEN l_quantity END) AS DOUBLE) AS p25,
              CAST(min(CASE WHEN rn = greatest((n+1)*2//4, 1) THEN l_quantity END) AS DOUBLE) AS median,
              CAST(min(CASE WHEN rn = greatest((n+1)*3//4, 1) THEN l_quantity END) AS DOUBLE) AS p75
            FROM r
            WHERE rn IN (greatest((n+1)*1//4, 1), greatest((n+1)*2//4, 1),
                         greatest((n+1)*3//4, 1))
            GROUP BY 1, 2"""),
    "exact positional quartiles per group [quantiles]")

  /** Unpivot / melt — pivot's inverse (q48 is the forward direction):
    * wide numeric columns become (metric, value) rows. `Dataset.unpivot`
    * plans as a single Expand (the same operator GROUPING SETS uses) —
    * one narrow pass, rows × metrics output, no shuffle. The oracle is
    * the portable UNION ALL spelling.
    */
  private lazy val q79 = QueryDef(
    (s, d) =>
      load(s, d, "orders")
        .select(col("o_orderkey"),
          col("o_totalprice").cast("double").as("o_totalprice"),
          col("o_custkey").cast("double").as("o_custkey"))
        .unpivot(
          Array(col("o_orderkey")),
          Array(col("o_totalprice"), col("o_custkey")),
          "metric", "value"),
    Some("""SELECT o_orderkey, 'o_totalprice' AS metric,
              CAST(o_totalprice AS DOUBLE) AS value FROM orders
            UNION ALL
            SELECT o_orderkey, 'o_custkey' AS metric,
              CAST(o_custkey AS DOUBLE) AS value FROM orders"""),
    "unpivot wide metrics to long rows (Expand, no shuffle) [reshape]")

  /** Explicit GROUPING SETS (the general form rollup/cube specialize):
    * three chosen aggregation levels in one pass with `grouping_id`
    * disambiguating them — the standard bitmask (first grouping column
    * = highest bit) both engines implement. Plans as a single Expand +
    * hash aggregate, identical in shape to q22/q50.
    */
  private lazy val q77 = QueryDef(
    (s, d) => {
      load(s, d, "orders").createOrReplaceTempView("orders_q77")
      s.sql("""SELECT o_orderstatus, o_orderpriority,
                 CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT)
                   AS gid,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                   AS revenue
               FROM orders_q77
               GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                       (o_orderstatus), ())""")
    },
    Some("""SELECT o_orderstatus, o_orderpriority,
              CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER) AS gid,
              CAST(count(*) AS BIGINT) AS n,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                    (o_orderstatus), ())"""),
    "explicit GROUPING SETS with grouping_id [aggregation]")
}

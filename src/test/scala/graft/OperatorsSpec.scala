package graft

import org.apache.spark.sql.functions._
import graft.operators._

class RelationalSpec extends SparkSpec {
  test("segment order profile: segments partition every order, shares sum to one") {
    val rows = Relational.segmentOrderProfile(spark, Sf).collect()
    assert(rows.nonEmpty && rows.length <= 5)
    assert(rows.map(_.getAs[Long]("n_orders")).sum ==
      Tables.orders(spark, Sf).count())
    assert(math.abs(rows.map(_.getAs[Double]("revenue_share")).sum - 1.0) < 1e-9)
    rows.foreach { r =>
      assert(r.getAs[Long]("buying_customers") <= r.getAs[Long]("n_orders"))
      assert(r.getAs[Double]("orders_per_customer") >= 1.0)
      assert(r.getAs[Double]("aov") > 0.0)
    }
    // buying customers across segments = distinct ordering customers
    // (a customer has ONE segment)
    assert(rows.map(_.getAs[Long]("buying_customers")).sum ==
      Tables.orders(spark, Sf).select("o_custkey").distinct().count())
  }

  test("discount uplift: bands partition every line, revenue reconciles as decimal") {
    val rows = Relational.discountUplift(spark, Sf).collect()
    assert(rows.nonEmpty && rows.length <= 11)
    rows.foreach { r =>
      val pct = r.getAs[Int]("discount_pct")
      assert(pct >= 0 && pct <= 10)
      val gus = r.getAs[Double]("give_up_share")
      // the band's realized give-up share is the band's own rate
      assert(math.abs(gus - pct / 100.0) < 1e-9, s"band $pct share $gus")
    }
    assert(rows.map(_.getAs[Long]("lines")).sum == Tables.lineitem(spark, Sf).count())
    val gross = Tables.lineitem(spark, Sf)
      .agg(sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double"))
      .collect().head.getDouble(0)
    assert(rows.map(_.getAs[Double]("gross_revenue")).sum == gross)
  }

  test("priority shipping: per-priority means reconcile against the month mart's total") {
    val rows = Relational.priorityShipping(spark, Sf).collect()
    assert(rows.nonEmpty && rows.length <= 5)
    rows.foreach { r =>
      val share = r.getAs[Double]("late_share")
      assert(share >= 0.0 && share <= 1.0)
      assert(r.getAs[Double]("mean_days") <= r.getAs[Int]("max_days").toDouble)
    }
    // line totals across priorities equal the month mart's line total
    // (same join, different dimension — the two marts must agree)
    val byPriority = rows.map(_.getAs[Long]("lines")).sum
    val byMonth = Relational.shippingLatency(spark, Sf).collect()
      .map(_.getAs[Long]("lines")).sum
    assert(byPriority == byMonth)
  }

  test("q1 groups cover every (returnflag, linestatus) and counts add up") {
    val q1 = Relational.q1PricingSummary(spark, Sf).collect()
    assert(q1.nonEmpty)
    val total = q1.map(_.getAs[Long]("count_order")).sum
    val expected = Tables.lineitem(spark, Sf).filter(col("l_shipdate") <= lit("1998-09-02")).count()
    assert(total == expected)
  }

  test("q3 returns at most 10 rows ordered by revenue desc") {
    val rows = Relational.q3ShippingPriority(spark, Sf).collect()
    assert(rows.length <= 10)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.sameElements(revs.sortBy(-_)))
  }

  test("q6 revenue equals a manually computed decimal sum") {
    val row = Relational.q6RevenueForecast(spark, Sf).collect().head
    val manual = Tables.lineitem(spark, Sf)
      .filter(col("l_shipdate") >= lit("1995-01-01") && col("l_shipdate") < lit("1996-01-01") &&
        col("l_discount").between(0.02, 0.09) && col("l_quantity") < 25)
      .select((col("l_extendedprice").cast("decimal(12,2)") * col("l_discount").cast("decimal(12,2)")).as("r"))
      .agg(sum("r").cast("double")).collect().head.getDouble(0)
    assert(row.getAs[Double]("revenue") == manual)
  }

  test("window top-3 per nation never exceeds 3 and ranks start at 1") {
    val rows = Relational.topCustomersWindow(spark, Sf).collect()
    val byNation = rows.groupBy(_.getAs[String]("n_name"))
    assert(byNation.values.forall(_.length <= 3))
    assert(byNation.values.forall(_.map(_.getAs[Int]("rank_in_nation")).min == 1))
  }

  test("q9 line counts add up to the PROMO lineitem total") {
    val rows = Relational.q9ProductTypeProfit(spark, Sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_lines")).sum
    val expected = Tables.lineitem(spark, Sf).join(
        Tables.part(spark, Sf).filter(col("p_type") === "PROMO"),
        col("l_partkey") === col("p_partkey")).count()
    assert(total == expected)
  }

  test("q11 returns exactly the parts above the fractional threshold") {
    val rows = Relational.q11ImportantParts(spark, Sf).collect()
    assert(rows.nonEmpty)
    // recompute the unfiltered per-part values and the global total
    val perPart = Tables.lineitem(spark, Sf)
      .join(Tables.supplier(spark, Sf).join(
          Tables.nation(spark, Sf).filter(col("n_name") === "NATION_3"),
          col("s_nationkey") === col("n_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey")
      .agg(sum(col("l_extendedprice").cast("decimal(12,2)")).as("vdec"))
      .select(col("l_partkey"), col("vdec").cast("double").as("v"),
        sum(col("vdec")).over().cast("double").as("total"))
      .collect().map(r => (r.getAs[Long]("l_partkey"), r.getAs[Double]("v"), r.getAs[Double]("total")))
    val cutoff = perPart.head._3 * 0.001
    val expected = perPart.collect { case (k, v, _) if v > cutoff => k }.toSet
    assert(rows.map(_.getAs[Long]("l_partkey")).toSet == expected)
  }

  test("q12 priority split partitions the joined line count") {
    val rows = Relational.q12PrioritySplit(spark, Sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(r => r.getAs[Long]("high_line_count") + r.getAs[Long]("low_line_count")).sum
    val expected = Tables.lineitem(spark, Sf)
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01"))
      .join(Tables.orders(spark, Sf), col("l_orderkey") === col("o_orderkey")).count()
    assert(total == expected)
  }

  test("q16 never counts an excluded supplier and stays within the fleet size") {
    val rows = Relational.q16SupplierCensus(spark, Sf).collect()
    assert(rows.nonEmpty)
    val nSuppliers = Tables.supplier(spark, Sf).filter(col("s_acctbal") >= 0).count()
    rows.foreach { r =>
      assert(r.getAs[String]("p_brand") != "Brand#45")
      val cnt = r.getAs[Long]("supplier_cnt")
      assert(cnt > 0 && cnt <= nSuppliers)
    }
  }

  test("q20 dominant suppliers each dominate at least one part, uniquely per part") {
    val rows = Relational.q20DominantSuppliers(spark, Sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("n_dominated_parts") >= 1))
    // >50% dominance is exclusive: no part can have two dominant suppliers,
    // so the dominated-part total cannot exceed the qualifying part count
    val nParts = Tables.part(spark, Sf).filter(col("p_type") === "SMALL").count()
    assert(rows.map(_.getAs[Long]("n_dominated_parts")).sum <= nParts)
  }

  test("order backlog: planted placements and shipments net to an exact open curve") {
    import spark.implicits._
    val orders = Seq((1L, "2024-01-01"), (2L, "2024-01-02"))
      .toDF("o_orderkey", "o_orderdate")
      .withColumn("o_orderdate", col("o_orderdate").cast("date"))
    val lineitem = Seq(
      (1L, "2024-01-02"), (1L, "2024-01-03"), // order 1: 2 lines
      (2L, "2024-01-03"))                     // order 2: 1 line
      .toDF("l_orderkey", "l_shipdate")
      .withColumn("l_shipdate", col("l_shipdate").cast("date"))
    val got = Relational.orderBacklogFrom(orders, lineitem).collect()
      .map(r => r.getAs[java.sql.Date]("event_date").toString ->
        ((r.getAs[Long]("lines_placed"), r.getAs[Long]("lines_shipped"),
          r.getAs[Long]("cum_placed"), r.getAs[Long]("cum_shipped"),
          r.getAs[Long]("open_lines")))).toMap
    assert(got("2024-01-01") == ((2L, 0L, 2L, 0L, 2L)))
    assert(got("2024-01-02") == ((1L, 1L, 3L, 1L, 2L)))
    assert(got("2024-01-03") == ((0L, 2L, 3L, 3L, 0L)))
    // sf conservation: every line both places and ships, so the final
    // day closes the backlog at exactly zero (the testdata's random
    // dates let lines "ship" before placement, so NO sign invariant —
    // only conservation holds on any date distribution)
    val sf = Relational.orderBacklog(spark, Sf).collect()
    assert(sf.last.getAs[Long]("open_lines") == 0L)
    assert(sf.last.getAs[Long]("cum_placed") == sf.last.getAs[Long]("cum_shipped"))
    val total = Tables.lineitem(spark, Sf).count()
    assert(sf.last.getAs[Long]("cum_placed") == total)
  }

  test("nation yoy: adjacent years lag exactly; a gap year yields no baseline") {
    val rows = Relational.nationRevenueYoy(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("nation")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("order_year"))
      // a nation's first year has no baseline
      assert(sorted.head.isNullAt(sorted.head.fieldIndex("prev_revenue")))
      sorted.sliding(2).foreach {
        case Array(a, b) if b.getAs[Int]("order_year") == a.getAs[Int]("order_year") + 1 =>
          assert(b.getAs[Double]("prev_revenue") == a.getAs[Double]("revenue"))
          val expect = (b.getAs[Double]("revenue") - b.getAs[Double]("prev_revenue")) /
            b.getAs[Double]("prev_revenue") * 100
          assert(b.getAs[Double]("yoy_pct") == expect)
        case Array(_, b) =>
          // non-adjacent present years: the gap voids the baseline
          assert(b.isNullAt(b.fieldIndex("prev_revenue")))
        case _ => ()
      }
    }
    // crafted gap year: 1994 and 1996 rows with no 1995 — the 1996 row
    // must NOT report two-year growth as YoY
    import spark.implicits._
    val li = Seq((1L, 100.0, 0.0), (2L, 150.0, 0.0))
      .toDF("l_orderkey", "l_extendedprice", "l_discount")
    val ords = Seq((1L, 10L, "1994-06-01"), (2L, 10L, "1996-06-01"))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
      .withColumn("o_orderdate", col("o_orderdate").cast("date"))
    val cust = Seq((10L, 7L)).toDF("c_custkey", "c_nationkey")
    val nat = Seq((7L, "GAPLAND")).toDF("n_nationkey", "n_name")
    val gap = Relational.nationRevenueYoyFrom(li, ords, cust, nat).collect()
      .map(r => r.getAs[Int]("order_year") -> r).toMap
    assert(gap(1994).isNullAt(gap(1994).fieldIndex("prev_revenue")))
    assert(gap(1996).isNullAt(gap(1996).fieldIndex("prev_revenue")))
    assert(gap(1996).isNullAt(gap(1996).fieldIndex("yoy_pct")))
  }
}

class BasketSpec extends SparkSpec {
  test("basket pairs: canonical pair counts, support, lift, duplicate-line collapse") {
    import spark.implicits._
    // o3 lists part 2 twice — one basket membership, not two
    val li = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L), (3L, 2L), (3L, 2L))
      .toDF("l_orderkey", "l_partkey")
    val rows = operators.Basket.basketPairsFrom(li).collect()
    val got = rows.map(r => (r.getAs[Long]("part1"), r.getAs[Long]("part2")) ->
      ((r.getAs[Long]("pair_orders"), r.getAs[Double]("support"), r.getAs[Double]("lift")))).toMap
    // n_orders=3; part orders: p1→2, p2→3, p3→1
    assert(got == Map(
      (1L, 2L) -> ((2L, 2.0 / 3.0, (2.0 * 3.0) / (2.0 * 3.0))),
      (1L, 3L) -> ((1L, 1.0 / 3.0, (1.0 * 3.0) / (2.0 * 1.0))),
      (2L, 3L) -> ((1L, 1.0 / 3.0, (1.0 * 3.0) / (3.0 * 1.0)))))
    // ordering: count desc, then canonical pair
    assert(rows.map(r => (r.getAs[Long]("part1"), r.getAs[Long]("part2"))).toSeq ==
      Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("coview pairs: same-day gating, bot-day exclusion, jaccard denominators") {
    import spark.implicits._
    def ev(u: Long, d: String, k: Int, t: String = "view") =
      (u, s"$d 10:00:00", t, s"""{"k":$k}""")
    // u1 views 1,2 on d1 (2 twice — one membership); u2 views 1,2,3 on d1;
    // u1 views 1 alone on d2 (singleton day → no pairs, dropped);
    // u3 is a bot: 51 products on d1 (dropped by the gate);
    // u4 PURCHASES 1,2 on d1 (wrong event type, ignored)
    val raw = (Seq(ev(1, "2024-01-01", 1), ev(1, "2024-01-01", 2), ev(1, "2024-01-01", 2),
      ev(2, "2024-01-01", 1), ev(2, "2024-01-01", 2), ev(2, "2024-01-01", 3),
      ev(1, "2024-01-02", 1),
      ev(4, "2024-01-01", 1, "purchase"), ev(4, "2024-01-01", 2, "purchase")) ++
      (1 to 51).map(k => ev(3, "2024-01-01", k)))
      .toDF("user_id", "ts", "event_type", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
    val e = operators.EventMarts.enrich(raw)
    val got = operators.Basket.coviewPairsFrom(e).collect()
      .map(r => (r.getAs[Int]("product1"), r.getAs[Int]("product2")) ->
        ((r.getAs[Long]("coview_days"), r.getAs[Double]("jaccard")))).toMap
    // gated frame: u1-d1 {1,2}, u2-d1 {1,2,3} → prod_days 1→2, 2→2, 3→1
    assert(got == Map(
      (1, 2) -> ((2L, 2.0 / (2 + 2 - 2))),
      (1, 3) -> ((1L, 1.0 / (2 + 1 - 1))),
      (2, 3) -> ((1L, 1.0 / (2 + 1 - 1)))))
  }

  test("shipping latency: month grain, quantile ordering, line counts tie out") {
    val rows = operators.Relational.shippingLatency(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p50, p90) = (r.getAs[Double]("p50_days"), r.getAs[Double]("p90_days"))
      assert(p50 <= p90 && p90 <= r.getAs[Long]("max_days"))
      // the synthetic corpus (unlike dbgen) allows ship-before-order
      // rows, so gaps CAN be negative — the mart reports them honestly;
      // only the ordering invariant is universal
      assert(r.getAs[Double]("mean_days") <= r.getAs[Long]("max_days"))
    }
    assert(rows.map(_.getAs[Long]("lines")).sum ==
      Tables.lineitem(spark, Sf).filter(col("l_shipdate").isNotNull).count())
  }

  test("approx latency marts land inside the exact quantile neighborhood") {
    // GK returns an order statistic; the exact mart interpolates. The
    // correct bound is by RANK: the sketch's answer for quantile q must
    // lie within the exact values at q ± 0.01 (sketch accuracy 1e-4 is
    // far inside that band) — the value_percentiles_approx contract,
    // applied to each formerly group-buffering latency mart.
    // tiny-group quantization floor: at sf0.001 a group can hold only
    // dozens of values, where ±0.01 of rank is LESS than one order
    // statistic — so the band is q ± 0.01 of rank OR ± one order
    // statistic, whichever is wider (at scale the rank band dominates)
    def band(sorted: Array[Double], q: Double): (Double, Double) = {
      val n = sorted.length
      val loIdx = math.min((q - 0.01) * (n - 1), q * (n - 1) - 1).floor.toInt.max(0)
      val hiIdx = math.max((q + 0.01) * (n - 1), q * (n - 1) + 1).ceil.toInt.min(n - 1)
      (sorted(loIdx), sorted(hiIdx))
    }
    def check(lat: org.apache.spark.sql.DataFrame, keys: Seq[String],
              approxRows: Array[org.apache.spark.sql.Row],
              p50: String, p90: String): Unit = {
      val groups = lat.collect()
        .groupBy(r => keys.map(k => r.getAs[Any](k).toString))
        .map { case (k, rs) => k -> rs.map(_.getAs[Number]("lat").doubleValue).sorted }
      assert(approxRows.nonEmpty && approxRows.length == groups.size)
      approxRows.foreach { r =>
        val sorted = groups(keys.map(k => r.getAs[Any](k).toString))
        for ((q, c) <- Seq(0.5 -> p50, 0.9 -> p90)) {
          val (lo, hi) = band(sorted, q)
          val got = r.getAs[Double](c)
          assert(got >= lo && got <= hi,
            s"$c = $got outside exact rank band $lo..$hi (n=${sorted.length}): $r")
        }
      }
    }
    check(operators.Relational.shippingLatencies(spark, Sf),
      Seq("order_month"),
      operators.Relational.shippingLatencyApprox(spark, Sf).collect(),
      "p50_days", "p90_days")
    check(operators.AsOfJoin.conversionLatencies(spark, Sf).withColumnRenamed("latency", "lat"),
      Seq("event_date"),
      operators.AsOfJoin.conversionLatencyApprox(spark, Sf).collect(),
      "p50_seconds", "p90_seconds")
    check(operators.AsOfJoin.stepLatencies(spark, Sf).withColumnRenamed("latency", "lat"),
      Seq("event_date", "step"),
      operators.AsOfJoin.stepLatencyApprox(spark, Sf).collect(),
      "p50_seconds", "p90_seconds")
  }

  test("approx RFM thresholds stay in the exact neighborhood and the grid totals hold") {
    val users = operators.Basket.rfmUsers(Tables.orders(spark, Sf))
    val approxTh = operators.Basket.rfmThresholds(users, approx = true)
      .collect().head
    val qs = Seq(0.2, 0.4, 0.6, 0.8)
    val nbr = qs.flatMap(q => Seq(q - 0.01, q + 0.01))
    val exactNbr = users.agg(
      expr(s"percentile(cast(recency_days as double), array(${nbr.mkString(",")}))").as("r"),
      expr(s"percentile(cast(frequency as double), array(${nbr.mkString(",")}))").as("f"),
      expr(s"percentile(cast(monetary_dec as double), array(${nbr.mkString(",")}))").as("m"))
      .collect().head
    for ((dim, i) <- Seq("rq" -> 0, "fq" -> 1, "mq" -> 2); qi <- qs.indices) {
      val got = approxTh.getSeq[Double](approxTh.fieldIndex(dim))(qi)
      val b = exactNbr.getSeq[Double](i)
      assert(got >= b(2 * qi) && got <= b(2 * qi + 1),
        s"$dim[$qi] = $got outside exact ${b(2 * qi)}..${b(2 * qi + 1)}")
    }
    // the approx grid re-buckets the SAME customers: totals preserved
    val exact = operators.Basket.rfmSegments(spark, Sf).collect()
    val approx = operators.Basket.rfmSegmentsApprox(spark, Sf).collect()
    assert(approx.map(_.getAs[Long]("customers")).sum ==
      exact.map(_.getAs[Long]("customers")).sum)
    val (er, ar) = (exact.map(_.getAs[Double]("segment_revenue")).sum,
      approx.map(_.getAs[Double]("segment_revenue")).sum)
    assert(math.abs(er - ar) / er < 1e-9, s"revenue drifted: $er vs $ar")
    approx.foreach { r =>
      Seq("r_score", "f_score", "m_score").foreach { c =>
        val v = r.getAs[Int](c); assert(v >= 1 && v <= 5) }
    }
  }

  test("cohort LTV: first-month cohorts, year-boundary offsets, decimal-exact revenue") {
    import spark.implicits._
    val o = Seq(
      (1L, "2024-01-05", 100.0), (1L, "2024-03-20", 50.0),
      (2L, "2024-01-10", 10.0), (2L, "2024-01-25", 20.0),
      (3L, "2024-03-01", 5.0),
      // year boundary: Dec 2023 cohort, next order Jan 2024 → offset 1
      (4L, "2023-12-31", 7.0), (4L, "2024-01-01", 3.0))
      .toDF("o_custkey", "od", "o_totalprice")
      .select(col("o_custkey"), col("od").cast("timestamp").as("o_orderdate"), col("o_totalprice"))
    val got = operators.Basket.cohortLtvFrom(o).collect()
      .map(r => (r.getAs[java.sql.Date]("cohort_month").toString, r.getAs[Long]("months_since")) ->
        ((r.getAs[Long]("active_customers"), r.getAs[Double]("revenue")))).toMap
    assert(got == Map(
      ("2023-12-01", 0L) -> ((1L, 7.0)), ("2023-12-01", 1L) -> ((1L, 3.0)),
      ("2024-01-01", 0L) -> ((2L, 130.0)), ("2024-01-01", 2L) -> ((1L, 50.0)),
      ("2024-03-01", 0L) -> ((1L, 5.0))))
  }

  test("RFM segments: aligned planted customers land on the quintile diagonal") {
    import spark.implicits._
    // customer k: k orders of 100.0 on day d_k, so frequency=k,
    // monetary=100k, and recency decreases with k — every dimension's
    // 5 values straddle the .2/.4/.6/.8 interpolated thresholds the
    // same way, putting customer k in cell (k, k, k)
    val days = Map(1 -> "2024-01-01", 2 -> "2024-01-11", 3 -> "2024-01-21",
      4 -> "2024-01-31", 5 -> "2024-02-10")
    val o = (1 to 5).flatMap(k => Seq.fill(k)((k.toLong, days(k), 100.0)))
      .toDF("o_custkey", "od", "o_totalprice")
      .select(col("o_custkey"), col("od").cast("timestamp").as("o_orderdate"),
        col("o_totalprice"))
    val rows = operators.Basket.rfmSegmentsFrom(o).collect()
    val got = rows.map(r => (r.getAs[Int]("r_score"), r.getAs[Int]("f_score"),
      r.getAs[Int]("m_score")) ->
      ((r.getAs[Long]("customers"), r.getAs[Double]("segment_revenue")))).toMap
    assert(got == (1 to 5).map(k => (k, k, k) -> ((1L, 100.0 * k))).toMap)
  }

  test("RFM transitions: planted halves pin the exact matrix; sf census conserves") {
    import spark.implicits._
    // date span 2024-01-01..2024-01-10 → cutoff = Jan 1 + (9 DIV 2) =
    // Jan 5. Uniform customers score (5,1,1) → tier 'low' on both
    // sides, so the matrix is driven purely by membership:
    // early {1,2,3,4}, late {3,4,5,6} → (low,low)=2 retained,
    // (low,churned)=2, (new,low)=2
    def o(ck: Long, d: String) = (ck, d, 100.0)
    val orders = Seq(
      o(1, "2024-01-01"), o(2, "2024-01-02"), o(3, "2024-01-03"), o(4, "2024-01-05"),
      o(3, "2024-01-06"), o(4, "2024-01-07"), o(5, "2024-01-09"), o(6, "2024-01-10"))
      .toDF("o_custkey", "od", "o_totalprice")
      .select(col("o_custkey"), col("od").cast("timestamp").as("o_orderdate"),
        col("o_totalprice"))
    val got = operators.Basket.rfmTransitionsFrom(orders).collect()
      .map(r => (r.getAs[String]("from_tier"), r.getAs[String]("to_tier")) ->
        ((r.getAs[Long]("customers"), r.getAs[Double]("share")))).toMap
    assert(got == Map(
      ("low", "low") -> ((2L, 2.0 / 6.0)),
      ("low", "churned") -> ((2L, 2.0 / 6.0)),
      ("new", "low") -> ((2L, 2.0 / 6.0))), s"got $got")
    // sf invariants: every customer appears exactly once in the
    // matrix (row sums conserve the overall census), churned rows
    // only come FROM real tiers, new rows only go TO real tiers
    val sf = operators.Basket.rfmTransitions(spark, Sf).collect()
    val totalCustomers = Tables.orders(spark, Sf)
      .filter(col("o_orderdate").isNotNull)
      .select("o_custkey").distinct().count()
    assert(sf.map(_.getAs[Long]("customers")).sum == totalCustomers)
    assert(math.abs(sf.map(_.getAs[Double]("share")).sum - 1.0) < 1e-9)
    sf.foreach { r =>
      assert(r.getAs[String]("from_tier") != "churned" &&
        r.getAs[String]("to_tier") != "new")
      assert(!(r.getAs[String]("from_tier") == "new" &&
        r.getAs[String]("to_tier") == "churned"))
    }
  }
}

class BucketingSpec extends SparkSpec {
  test("bucketed fact-fact join is shuffle-free and matches the shuffled result") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_buckets").toString
    val (oName, lName) = Bucketing.writeBucketed(spark, Sf, tmp, buckets = 4, suffix = "_t")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // tiny test tables would broadcast; force the at-scale join shape
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bucketed = Bucketing.rollupFromBucketed(spark, oName, lName)
      val rows = bucketed.collect() // materialize so AQE finalizes the plan
      val plan = bucketed.queryExecution.executedPlan.toString
      // the join itself must not shuffle: bucket-local sort-merge join,
      // no exchange on either join key (the agg exchange above is fine)
      assert(plan.contains("SortMergeJoin"), s"expected bucket-local SMJ in:\n$plan")
      assert(plan.contains("Bucketed: true"), s"expected bucketed scans in:\n$plan")
      assert(!plan.contains("hashpartitioning(o_orderkey") &&
             !plan.contains("hashpartitioning(l_orderkey"),
        s"bucketed join must not shuffle on the join key:\n$plan")
      // identical results to the shuffle-based rollup
      val expected = Relational.orderLineitemRollup(spark, Sf).collect().toSeq
      assert(rows.toSeq == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS $oName")
      spark.sql(s"DROP TABLE IF EXISTS $lName")
    }
  }
}

class SkewSpec extends SparkSpec {
  import spark.implicits._

  private def skewedFact = {
    // 2000 rows on ONE hot key + a thin tail, distinct payloads so the
    // deterministic salt can spread them
    val hot = (0 until 2000).map(i => (1L, s"p$i"))
    val tail = (0 until 50).map(i => (2L + i % 5, s"t$i"))
    (hot ++ tail).toDF("k", "payload")
  }
  private def dim = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (99L, "unmatched"))
    .toDF("k", "label")

  test("salted inner/left joins match the plain join exactly") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (jt <- Seq("inner", "left")) {
        val plain = skewedFact.join(dim, Seq("k"), jt)
          .collect().map(_.toSeq).sortBy(_.toString).toSeq
        val salted = Skew.saltedJoin(skewedFact, dim, Seq("k"), numSalts = 8, joinType = jt)
          .collect().map(_.toSeq).sortBy(_.toString).toSeq
        assert(salted == plain, s"$jt join mismatch")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("the hot key's rows actually spread over many salts") {
    // recompute the implementation's salt expression over the hot key
    val salts = skewedFact.filter(col("k") === 1L)
      .select(pmod(xxhash64(col("k"), col("payload")), lit(8L)).cast("int").as("s"))
      .distinct().count()
    assert(salts == 8, s"expected all 8 salts on the hot key, got $salts")
    // and the salted join's shuffle key includes the salt column
    val plan = Skew.saltedJoin(skewedFact, dim, Seq("k"), numSalts = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains(Skew.SaltCol), s"salt column missing from plan:\n$plan")
  }

  test("outer-on-dim join types are rejected (replicated side would duplicate)") {
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(skewedFact, dim, Seq("k"), numSalts = 4, joinType = "right")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(skewedFact, dim, Seq("k"), numSalts = 1)
    }
  }

  test("autoSalted derives the salt factor from the measured hot-key ratio") {
    // skewedFact: hot key 1 → 2000 rows; keys 2..6 → 10 each.
    // n_keys=6, total=2050, mean≈341.7 → hot ratio ≈ 5.85 → 6 salts
    val plan = Skew.measure(skewedFact, "k")
    assert(plan.armed && plan.numSalts == 6,
      s"expected ceil(5.85)=6 salts, got $plan")
    assert(math.abs(plan.hotRatio - 2000.0 * 6 / 2050.0) < 1e-9)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plain = skewedFact.join(dim, Seq("k"), "inner")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      val (auto, p2) = Skew.autoSalted(skewedFact, dim, Seq("k"))
      assert(p2.numSalts == 6)
      assert(auto.collect().map(_.toSeq).sortBy(_.toString).toSeq == plain)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // a uniform fact must NOT arm — the dim-replication cost is real
    val uniform = (0 until 600).map(i => (1L + i % 6, s"u$i")).toDF("k", "payload")
    val (flat, p3) = Skew.autoSalted(uniform, dim, Seq("k"))
    assert(!p3.armed && p3.numSalts == 1, s"uniform data armed: $p3")
    assert(flat.collect().map(_.toSeq).sortBy(_.toString).toSeq ==
      uniform.join(dim, Seq("k"), "inner")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq)
  }

  test("one census serves every armed consumer of the same frame (SkewPlan cache)") {
    import spark.implicits._
    // a frame no other test builds → guaranteed cache miss on first use
    val hot = ((0 until 2000).map(i => ("census_bot", s"cc$i", "view", 1000L + i * 10L)) ++
      (0 until 40).map(i => (s"cu${i % 20}", s"cn$i", "view", 1000L + i * 5000L)))
      .toDF("user_id", "event_id", "event_type", "event_epoch")
    val before = Skew.censusMemo.builds
    // a pipeline arming THREE consumers over one frame at the session
    // threshold: two direct censuses and the session-sequences chooser
    val p1 = Skew.measure(hot, "user_id", Sessionize.ArmThreshold)
    val p2 = Skew.measure(hot, "user_id", Sessionize.ArmThreshold)
    val (_, p3) = Sessionize.sessionSequencesAuto(hot)
    assert(Skew.censusMemo.builds - before == 1L,
      s"expected ONE census for three armed consumers, got ${Skew.censusMemo.builds - before}")
    assert(p1.armed && p1 == p2 && p2 == p3, s"plans diverged: $p1 / $p2 / $p3")
    // a DIFFERENT frame (extra filter) must miss the cache
    val (_, p4) = Sessionize.sessionSequencesAuto(hot.filter(col("event_epoch") > 0L))
    assert(Skew.censusMemo.builds - before == 2L, "a semantically new frame must re-census")
    assert(p4.armed)
  }
}

class EventMartsSpec extends SparkSpec {
  test("product repeat rate: planted purchase histories count exactly") {
    import spark.implicits._
    import java.sql.Timestamp
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    // product 1: u1 buys twice, u2 once → 2 purchasers, 1 repeat
    // product 2: u3 buys three times → 1 purchaser, 1 repeat
    // product 3: u1 buys once → no repeats; views never count
    val e = Seq(
      (1L, t, 1L, "purchase", 5.0, """{"k": 1}"""),
      (2L, t, 1L, "purchase", 5.0, """{"k": 1}"""),
      (3L, t, 2L, "purchase", 5.0, """{"k": 1}"""),
      (4L, t, 3L, "purchase", 5.0, """{"k": 2}"""),
      (5L, t, 3L, "purchase", 5.0, """{"k": 2}"""),
      (6L, t, 3L, "purchase", 5.0, """{"k": 2}"""),
      (7L, t, 1L, "purchase", 5.0, """{"k": 3}"""),
      (8L, t, 9L, "view", 0.0, """{"k": 3}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("product_k",
        get_json_object(col("props"), "$.k").cast("int"))
    val rows = EventMarts.productRepeatRateFrom(e).collect()
      .map(r => r.getAs[Int]("product_k") -> r).toMap
    assert(rows(1).getAs[Long]("n_purchasers") == 2L &&
      rows(1).getAs[Long]("repeat_purchasers") == 1L &&
      rows(1).getAs[Double]("repeat_rate") == 0.5 &&
      rows(1).getAs[Double]("purchases_per_purchaser") == 1.5)
    assert(rows(2).getAs[Double]("repeat_rate") == 1.0 &&
      rows(2).getAs[Long]("n_purchases") == 3L)
    assert(rows(3).getAs[Long]("repeat_purchasers") == 0L &&
      rows(3).getAs[Long]("n_purchasers") == 1L)
    // ordering: repeat_rate desc, then product_k
    val order = EventMarts.productRepeatRateFrom(e).collect()
      .map(_.getAs[Int]("product_k")).toSeq
    assert(order == Seq(2, 1, 3))
  }

  test("mart_user_daily per-type counts sum to event_count") {
    val bad = EventMarts.martUserDaily(spark, Sf)
      .filter(col("view_count") + col("click_count") + col("purchase_count") +
        col("signup_count") + col("error_count") =!= col("event_count"))
      .count()
    assert(bad == 0)
  }

  test("funnel rates are within [0, ∞) and steps are bounded by distinct users") {
    val rows = EventMarts.martFunnelDaily(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rate = r.getAs[Any]("overall_conversion_rate")
      if (rate != null) assert(rate.asInstanceOf[Double] >= 0.0)
    }
  }

  test("mart_orders only contains purchases and totals match user mart revenue") {
    val orders = EventMarts.martOrders(spark, Sf)
    val orderSum = orders.agg(sum(col("total_amount").cast("decimal(12,2)")).cast("double")).collect().head.getDouble(0)
    val userSum = EventMarts.martUserDaily(spark, Sf)
      .agg(sum(col("total_purchase_amount").cast("decimal(14,2)")).cast("double")).collect().head.getDouble(0)
    assert(math.abs(orderSum - userSum) < 1e-6)
  }

  test("retention cohort sizes sum to the distinct user count") {
    val total = EventMarts.retentionDaily(spark, Sf).agg(sum("cohort_size")).collect().head.getLong(0)
    val users = Tables.events(spark, Sf).select("user_id").distinct().count()
    assert(total == users)
  }

  test("new-vs-returning: planted days decompose exactly; totals tie out at sf") {
    import spark.implicits._
    // u1 active d0+d1, u2 d0 only, u3 d1 only
    val e = Seq(
      ("u1", "2024-01-01"), ("u1", "2024-01-01"), ("u1", "2024-01-02"),
      ("u2", "2024-01-01"), ("u3", "2024-01-02"))
      .toDF("user_id", "event_date").withColumn("event_date", col("event_date").cast("date"))
    val rows = EventMarts.newVsReturningFrom(e).collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("active_users") == 2 && rows(0).getAs[Long]("new_users") == 2
      && rows(0).getAs[Long]("returning_users") == 0)
    assert(rows(1).getAs[Long]("active_users") == 2 && rows(1).getAs[Long]("new_users") == 1
      && rows(1).getAs[Long]("returning_users") == 1
      && rows(1).getAs[Double]("new_user_share") == 50.0)
    // sf invariants: sum(new) = distinct users; sum(active) = distinct user-days
    val m = EventMarts.newVsReturning(spark, Sf)
      .agg(sum("new_users"), sum("active_users")).collect().head
    assert(m.getLong(0) == Tables.events(spark, Sf).select("user_id").distinct().count())
    assert(m.getLong(1) == graft.operators.EventMarts.enriched(spark, Sf)
      .select("user_id", "event_date").distinct().count())
  }

  test("user streaks: islands split on gaps, lexicographic tie-break, totals tie out") {
    import spark.implicits._
    // u1: 1-3 Jan (streak 3), 5 Jan (1), 10-11 Jan (2) → longest 3
    // u2: two SEPARATE 2-day streaks → tie broken by LATEST end
    // u3: single day
    val raw = Seq(
      (1L, "2024-01-01"), (1L, "2024-01-02"), (1L, "2024-01-03"),
      (1L, "2024-01-05"), (1L, "2024-01-10"), (1L, "2024-01-11"),
      (2L, "2024-01-01"), (2L, "2024-01-02"), (2L, "2024-01-08"), (2L, "2024-01-09"),
      (3L, "2024-02-01"),
      (1L, "2024-01-02")) // duplicate day collapses in the distinct
      .zipWithIndex.map { case ((u, d), i) =>
        (i.toLong, u, s"$d 10:00:00", "view", "{}") }
      .toDF("event_id", "user_id", "ts", "event_type", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = operators.EventMarts.userStreaksFrom(operators.EventMarts.enrich(raw))
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("active_days"), r.getAs[Long]("n_streaks"),
          r.getAs[Long]("longest_streak"),
          r.getAs[java.sql.Date]("longest_streak_end").toString))).toMap
    assert(got(1L) == ((6L, 3L, 3L, "2024-01-03")))
    assert(got(2L) == ((4L, 2L, 2L, "2024-01-09"))) // tie → latest end
    assert(got(3L) == ((1L, 1L, 1L, "2024-02-01")))
    // corpus invariants: active_days sums to |distinct user-days|
    val rows = operators.EventMarts.userStreaks(spark, Sf).collect()
    val userDays = Tables.events(spark, Sf)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("ts").cast("date")).distinct().count()
    assert(rows.map(_.getAs[Long]("active_days")).sum == userDays)
    rows.foreach { r =>
      assert(r.getAs[Long]("longest_streak") <= r.getAs[Long]("active_days")) }
  }

  test("rolling actives: planted windows roll off at 7 and 28 days; DAU ties out at sf") {
    import spark.implicits._
    // u1 active on day 0 only; u2 on day 0 and day 10; u3 on day 30.
    // Observed days: 0, 10, 30.
    val e = Seq(
      ("u1", "2024-01-01"), ("u2", "2024-01-01"),
      ("u2", "2024-01-11"), ("u3", "2024-01-31"))
      .toDF("user_id", "event_date").withColumn("event_date", col("event_date").cast("date"))
    val rows = EventMarts.rollingActiveUsersFrom(e).collect()
      .map(r => r.getAs[java.sql.Date]("event_date").toString ->
        (r.getAs[Long]("dau"), r.getAs[Long]("wau"), r.getAs[Long]("mau"))).toMap
    // day 0: both u1+u2 in every window
    assert(rows("2024-01-01") == ((2L, 2L, 2L)))
    // day 10: u2 active today (dau 1); u1+u2's day-0 activity is out of
    // the 7-day window but inside the 28-day one; u2 counted ONCE
    assert(rows("2024-01-11") == ((1L, 1L, 2L)))
    // day 30: day-0 activity has rolled off the 28-day window entirely,
    // day-10 activity is still inside it
    assert(rows("2024-01-31") == ((1L, 1L, 2L)))
    // sf invariants: per-day DAU equals the exact per-day distinct user
    // count, and WAU/MAU are monotone supersets of DAU
    val got = EventMarts.rollingActiveUsers(spark, Sf)
    val exact = graft.operators.EventMarts.enriched(spark, Sf)
      .select("user_id", "event_date").distinct()
      .groupBy("event_date").agg(count(lit(1)).as("exact_dau"))
    assert(got.join(exact, "event_date")
      .filter(col("dau") =!= col("exact_dau")).count() == 0)
    assert(got.filter(col("wau") < col("dau") || col("mau") < col("wau")).count() == 0)
  }
}

class ProductRankShiftSpec extends SparkSpec {
  private def ev(rows: Seq[(Long, Long, String, String, Double, String)]) = {
    import spark.implicits._
    EventMarts.enrich(
      rows.toDF("event_id", "user_id", "ts", "event_type", "value", "props")
        .withColumn("ts", col("ts").cast("timestamp")))
  }

  test("rank shift: planted climbs/falls rank exactly; new product gets NULL pct") {
    var id = 0L
    def evs(day: String, k: Int, n: Int) = (0 until n).map { i =>
      id += 1; (id, id, s"$day 10:0${i % 6}:00", "view", 1.0, s"""{"k":$k}""")
    }
    // period a = Jan 1 (pre-midpoint), b = Jan 9: p1 falls 5→1,
    // p2 climbs 1→5, p3 steady 3→3, p4 appears 0→2
    val e = ev(evs("2024-01-01", 1, 5) ++ evs("2024-01-09", 1, 1) ++
      evs("2024-01-01", 2, 1) ++ evs("2024-01-09", 2, 5) ++
      evs("2024-01-01", 3, 3) ++ evs("2024-01-09", 3, 3) ++
      evs("2024-01-09", 4, 2))
    val got = EventMarts.productRankShiftFrom(e).collect()
      .map(r => r.getAs[Int]("product_k") -> r).toMap
    assert(got.keySet == Set(1, 2, 3, 4))
    def ranks(k: Int) = (got(k).getAs[Int]("rank_a"), got(k).getAs[Int]("rank_b"),
      got(k).getAs[Int]("rank_delta"))
    assert(ranks(1) == ((1, 4, -3)))
    assert(ranks(2) == ((3, 1, 2)))
    assert(ranks(3) == ((2, 2, 0)))
    assert(ranks(4) == ((4, 3, 1)))
    assert(got(1).getAs[Double]("pct_change") == -0.8)
    assert(got(2).getAs[Double]("pct_change") == 4.0)
    assert(got(3).getAs[Double]("pct_change") == 0.0)
    assert(got(4).isNullAt(got(4).fieldIndex("pct_change")))
    // sf: pool capped, within-pool ranks are a permutation of 1..n
    val sf = EventMarts.productRankShift(spark, Sf).collect()
    assert(sf.nonEmpty && sf.length <= 100)
    assert(sf.map(_.getAs[Int]("rank_a")).sorted.toSeq == (1 to sf.length))
    assert(sf.map(_.getAs[Int]("rank_b")).sorted.toSeq == (1 to sf.length))
  }
}

class ApproxSpec extends SparkSpec {
  test("HLL distinct users lands within 3x the requested rsd of exact") {
    val rows = EventMarts.approxDistinctUsers(spark, Sf, rsd = 0.02).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("rel_error") <= 0.06,
        s"${r.getAs[Any]("event_date")}: rel_error ${r.getAs[Double]("rel_error")}")
    }
  }

  test("HLL retention estimates track the exact day-pair intersections at every offset") {
    val offsets = Seq(1, 3, 7)
    val exact = Tables.events(spark, Sf)
      .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
    val later = exact.select(col("user_id").as("later_user"), col("day").as("later_day"))
    val truth = offsets.flatMap { off =>
      exact.join(later, date_add(col("day"), off) === col("later_day") &&
          col("user_id") === col("later_user"))
        .groupBy(col("day")).agg(countDistinct(col("user_id")).as("returning"))
        .collect().map(r =>
          (r.getAs[java.sql.Date]("day").toString, off) -> r.getAs[Long]("returning"))
    }.toMap
    val est = EventMarts.approxRetentionHll(spark, Sf, offsets = offsets).collect()
    assert(est.nonEmpty)
    assert(est.map(_.getAs[Int]("day_offset")).toSet == offsets.toSet)
    est.foreach { r =>
      val key = (r.getAs[java.sql.Date]("day").toString, r.getAs[Int]("day_offset"))
      val got = r.getAs[Long]("est_returning")
      val want = truth.getOrElse(key, 0L)
      assert(r.getAs[Long]("est_active") > 0)
      // inclusion-exclusion over three ~1.6%-rsd estimates: allow 6%
      // relative (plus a small absolute floor for tiny intersections)
      assert(math.abs(got - want) <= math.max(3.0, 0.06 * want),
        s"$key: est_returning $got vs exact $want")
    }
  }

  test("HLL rolling actives track the exact DAU/WAU/MAU within sketch error") {
    val exact = EventMarts.rollingActiveUsers(spark, Sf).collect()
      .map(r => r.getAs[java.sql.Date]("event_date").toString ->
        ((r.getAs[Long]("dau"), r.getAs[Long]("wau"), r.getAs[Long]("mau")))).toMap
    val est = EventMarts.rollingActiveHll(spark, Sf).collect()
    assert(est.length == exact.size, "sketch mart must cover exactly the observed days")
    est.foreach { r =>
      val day = r.getAs[java.sql.Date]("event_date").toString
      val (dau, wau, mau) = exact(day)
      // lgK=12 → ~1.6% rsd; allow 3x plus an absolute floor
      def ok(got: Long, want: Long, label: String): Unit =
        assert(math.abs(got - want) <= math.max(3.0, 0.05 * want),
          s"$day $label: est $got vs exact $want")
      ok(r.getAs[Long]("dau_est"), dau, "dau")
      ok(r.getAs[Long]("wau_est"), wau, "wau")
      ok(r.getAs[Long]("mau_est"), mau, "mau")
    }
  }

  test("count-min estimates respect both sides of the CMS guarantee") {
    val eps = 0.001
    val exact = EventMarts.enriched(spark, Sf)
      .filter(col("product_k").isNotNull)
      .groupBy(col("product_k")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Int]("product_k") -> r.getAs[Long]("n")).toMap
    val est = EventMarts.productFreqCms(spark, Sf, eps = eps).collect()
    assert(est.nonEmpty)
    est.foreach { r =>
      val k = r.getAs[Int]("product_k")
      val got = r.getAs[Long]("est_count")
      val want = exact.getOrElse(k, 0L)
      val total = r.getAs[Long]("total_product_events")
      assert(got >= want, s"CMS must never undercount: key $k got $got < exact $want")
      assert(got <= want + math.max(1L, (eps * total).toLong) * 3,
        s"key $k overcounts beyond 3x the eps*N bound: $got vs $want (N=$total)")
    }
  }

  test("approx percentiles land inside the exact quantile neighborhood") {
    // GK returns an order statistic; the exact percentile interpolates.
    // The correct bound is therefore by RANK: the sketch's answer for
    // quantile q must lie within the exact values at q ± 0.01 (sketch
    // accuracy 1e-4 is far inside that band).
    val bounds = EventMarts.enriched(spark, Sf)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(value, array(0.49, 0.51, 0.89, 0.91, 0.98, 1.0))").as("b"))
      .collect()
      .map(r => r.getAs[String]("event_type") -> r.getSeq[Double](1)).toMap
    val approx = EventMarts.valuePercentilesApprox(spark, Sf).collect()
    assert(approx.nonEmpty && approx.length == bounds.size)
    approx.foreach { r =>
      val b = bounds(r.getAs[String]("event_type"))
      assert(r.getAs[Double]("p50") >= b(0) && r.getAs[Double]("p50") <= b(1))
      assert(r.getAs[Double]("p90") >= b(2) && r.getAs[Double]("p90") <= b(3))
      assert(r.getAs[Double]("p99") >= b(4) && r.getAs[Double]("p99") <= b(5))
    }
  }

  test("Misra-Gries heavy hitters honor the frequency and error guarantees") {
    val k = 16
    val exact = EventMarts.enriched(spark, Sf)
      .filter(col("product_k").isNotNull)
      .groupBy(col("product_k").cast("string").as("p")).count()
      .collect().map(r => r.getAs[String]("p") -> r.getAs[Long]("count")).toMap
    val n = exact.values.sum
    val sketch = EventMarts.productHeavyHitters(spark, Sf, k).collect()
      .map(r => r.getAs[String]("product_k") -> r.getAs[Long]("est_count")).toMap
    assert(sketch.nonEmpty && sketch.size <= k)
    val bound = n.toDouble / (k + 1)
    // completeness: every true heavy hitter survives
    exact.foreach { case (p, c) =>
      if (c > bound) assert(sketch.contains(p), s"heavy hitter $p (count $c > $bound) missing")
    }
    // soundness: estimates are lower bounds within the MG error
    sketch.foreach { case (p, est) =>
      val truth = exact.getOrElse(p, 0L)
      assert(est <= truth, s"$p: estimate $est exceeds true count $truth")
      assert(truth - est <= bound.ceil.toLong, s"$p: error ${truth - est} > $bound")
    }
  }
}

class SessionizeSpec extends SparkSpec {
  test("entry/exit census: planted sessions land in the right cells; census conserves sessions") {
    import spark.implicits._
    // u1 session A: view → click → purchase; u1 session B (2h later):
    // a lone error; u2: a lone signup
    val rows = Seq(
      (1L, 1L, "2024-01-01 10:00:00", "view"),
      (2L, 1L, "2024-01-01 10:00:10", "click"),
      (3L, 1L, "2024-01-01 10:00:20", "purchase"),
      (4L, 1L, "2024-01-01 13:00:00", "error"),
      (5L, 2L, "2024-01-01 09:00:00", "signup"))
    val e = EventMarts.enrich(rows.toDF("event_id", "user_id", "ts", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}")))
    val got = Sessionize.sessionEntryExitFrom(e).collect()
      .map(r => (r.getAs[String]("entry_type"), r.getAs[String]("exit_type")) ->
        ((r.getAs[Long]("n_sessions"), r.getAs[Double]("avg_events"),
          r.getAs[Double]("purchase_rate")))).toMap
    assert(got(("view", "purchase")) == ((1L, 3.0, 1.0)))
    assert(got(("error", "error")) == ((1L, 1.0, 0.0)))
    assert(got(("signup", "signup")) == ((1L, 1.0, 0.0)))
    assert(got.size == 3)
    // sf: cells partition the session set
    val census = Sessionize.sessionEntryExit(spark, Sf)
    assert(census.agg(sum("n_sessions")).collect().head.getLong(0) ==
      Sessionize.sessionSequences(spark, Sf).count())
  }

  test("session memos: one sequences build serves patterns, one stats build serves three rollups, both match fresh") {
    Sessionize.sessionMemo.clear()
    val before = Sessionize.sessionMemo.builds
    val seq = Sessionize.sessionSequences(spark, Sf).collect()
    Sessionize.sessionPatterns(spark, Sf).count()
    assert(Sessionize.sessionMemo.builds == before + 1,
      "patterns must roll over the memoized sequences frame")
    val daily = Sessionize.sessionDaily(spark, Sf).collect()
    Sessionize.sessionConcurrency(spark, Sf).count()
    Sessionize.errorImpact(spark, Sf).count()
    assert(Sessionize.sessionMemo.builds == before + 2,
      "daily/concurrency/error_impact must share ONE stats build")
    // memoized outputs equal fresh uncached builds exactly
    val e = EventMarts.enriched(spark, Sf)
    assert(seq.map(_.toSeq).toSet ==
      Sessionize.sessionSequencesFrom(e).collect().map(_.toSeq).toSet,
      "memoized sequences drifted from a fresh build")
    assert(daily.map(_.toSeq).toSet ==
      Sessionize.sessionDailyFrom(e).collect().map(_.toSeq).toSet,
      "memoized daily drifted from a fresh build")
    assert(Sessionize.sessionMemo.builds == before + 2, "re-reads must HIT")
  }

  test("session event counts sum to total events; gaps within a session ≤ 1800s") {
    val sessions = Sessionize.sessionSequences(spark, Sf)
    val sum1 = sessions.agg(sum("event_count")).collect().head.getLong(0)
    assert(sum1 == Tables.events(spark, Sf).count())
    // no session may span more than count*gap seconds
    val bad = sessions.filter(col("duration_seconds") > col("event_count") * Sessionize.GapSeconds).count()
    assert(bad == 0)
  }

  test("session surprise: rare transition ranks first, bits match a driver recompute") {
    import spark.implicits._
    def sess(u: Long, start: Int, types: Seq[String]) =
      types.zipWithIndex.map { case (t, i) =>
        (u * 100 + i, u, f"2024-01-01 ${10 + start}%02d:${i}%02d:00", t, 1.0)
      }
    // four organic sessions walk view->click->purchase; user 9 walks
    // the rare view->error->purchase arc
    val rows = (1L to 4L).flatMap(u => sess(u, 0, Seq("view", "click", "purchase"))) ++
      sess(9L, 0, Seq("view", "error", "purchase"))
    val e = EventMarts.enrich(rows.toDF("event_id", "user_id", "ts", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("props", lit("{}")))
    val got = Sessionize.sessionSurpriseFrom(e).collect()
    assert(got.length == 5)
    val top = got.head
    assert(top.getAs[Long]("user_id") == 9L, s"rare arc must rank first: ${got.toSeq}")
    // driver recompute: P(view->error)=1/5, P(error->purchase)=1/1;
    // bits = (q(-log2(0.2)) + q(-log2(1))) / 2 under the r14 model
    // (per-arc bits quantize to a 1e-5 integer grid at LM grain)
    def q(p: Double): Long = math.round(-(math.log(p) / math.log(2.0)) * 100000.0)
    val expTop = (q(0.2) + q(1.0)).toDouble / 2.0 / 100000.0
    assert(math.abs(top.getAs[Double]("bits_per_transition") - expTop) < 1e-12)
    // organic sessions: (q(-log2(4/5)) + q(-log2(1))) / 2, all equal
    val expOrg = (q(0.8) + q(1.0)).toDouble / 2.0 / 100000.0
    got.tail.foreach(r =>
      assert(math.abs(r.getAs[Double]("bits_per_transition") - expOrg) < 1e-12))
    assert(got.forall(_.getAs[Long]("n_transitions") == 2L))
  }

  test("patterns aggregate to the same session total") {
    val sCount = Sessionize.sessionSequences(spark, Sf).count()
    val pSum = Sessionize.sessionPatterns(spark, Sf).agg(sum("session_count")).collect().head.getLong(0)
    assert(sCount == pSum)
  }

  test("gap histogram lands planted gaps in exact minute buckets with cumulative shares") {
    import spark.implicits._
    // u1: 30 s (bucket 0), 9.5 min (bucket 8), 180 min (bucket 128);
    // u2: single event — no gap
    val e = EventMarts.enrich(Seq(
      (1L, 1L, "2024-01-01 10:00:00", "view", 1.0),
      (2L, 1L, "2024-01-01 10:00:30", "view", 1.0),
      (3L, 1L, "2024-01-01 10:10:00", "view", 1.0),
      (4L, 1L, "2024-01-01 13:10:00", "view", 1.0),
      (5L, 2L, "2024-01-01 09:00:00", "view", 1.0))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("props", lit("{}")))
    val got = Sessionize.sessionGapHistogramFrom(e).collect()
      .map(r => r.getAs[Int]("gap_bucket_min") ->
        ((r.getAs[Long]("n_gaps"), r.getAs[Double]("share_pct"),
          r.getAs[Double]("cum_share_pct")))).toMap
    assert(got.keySet == Set(0, 8, 128))
    assert(got(0) == ((1L, 1.0 / 3.0 * 100, 1.0 / 3.0 * 100)))
    assert(got(8) == ((1L, 1.0 / 3.0 * 100, 2.0 / 3.0 * 100)))
    assert(got(128) == ((1L, 1.0 / 3.0 * 100, 3.0 / 3.0 * 100)))
    // sf: gap count conserves (events minus distinct users), cum ends at 100
    val sf0 = Sessionize.sessionGapHistogram(spark, Sf).collect()
    val ev = Tables.events(spark, Sf)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
    assert(sf0.map(_.getAs[Long]("n_gaps")).sum ==
      ev.count() - ev.select("user_id").distinct().count())
    assert(math.abs(sf0.last.getAs[Double]("cum_share_pct") - 100.0) < 1e-9)
  }

  test("a 100k-event bot session yields a bounded row: capped sequence + overflow count") {
    // one user firing an event per second for 10^5 seconds — a single
    // session (every gap 1s < 1800s) that would otherwise build a
    // 100k-struct aggregation buffer and a megabyte row
    val n = 100000L
    val e = spark.range(n).selectExpr(
      "'bot' AS user_id",
      "concat('e', lpad(cast(id as string), 7, '0')) AS event_id",
      "CASE WHEN id % 3 = 0 THEN 'view' WHEN id % 3 = 1 THEN 'cart' ELSE 'purchase' END AS event_type",
      "1000000 + id AS event_epoch")
    val rows = Sessionize.sessionSequencesFrom(e).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("event_count") == n)
    assert(r.getAs[Long]("overflow_events") == n - Sessionize.MaxSeqEvents)
    val seq = r.getAs[String]("event_sequence")
    // capped at MaxSeqEvents entries → MaxSeqEvents-1 separators
    assert(seq.split(" -> ").length == Sessionize.MaxSeqEvents)
    assert(seq.length <= Sessionize.MaxSeqEvents * 12, s"row not bounded: ${seq.length} chars")
    // the cap keeps the FIRST events in order: id 0 is 'view', id 1 'cart'
    assert(seq.startsWith("view -> cart -> purchase"))
  }

  test("bucketed sessionize equals the plain path on a planted bot + boundary torture set") {
    import spark.implicits._
    val B = Sessionize.BucketSeconds
    // bot: one event per 600 s for 3000 events — ONE ~21-day session
    // crossing ~20 bucket boundaries, every boundary a merge
    val bot = (0 until 3000).map(i =>
      ("bot", f"b$i%05d", if (i % 2 == 0) "view" else "purchase", 80000L + i * 600L))
    // u_edge: gap of exactly GapSeconds across a bucket boundary → merge
    val edge = Seq(("u_edge", "e1", "view", B - 1L),
      ("u_edge", "e2", "purchase", B - 1L + Sessionize.GapSeconds))
    // u_break: gap of GapSeconds+1 across the boundary → new session
    val break_ = Seq(("u_break", "k1", "view", B - 1L),
      ("u_break", "k2", "view", B + Sessionize.GapSeconds))
    // u_skip: two whole empty buckets between events → new session
    val skip = Seq(("u_skip", "s1", "view", 100L),
      ("u_skip", "s2", "cart", 3 * B + 100L))
    // u_tie: same epoch, order decided by event_id in both paths
    val tie = Seq(("u_tie", "t1", "view", 500L), ("u_tie", "t2", "cart", 500L),
      ("u_tie", "t3", "purchase", 500L + Sessionize.GapSeconds + 1))
    // u_multi: several sessions inside one bucket
    val multi = (0 until 6).map(i =>
      ("u_multi", s"m$i", "view", 10000L + i * (Sessionize.GapSeconds + 10L)))
    val e = (bot ++ edge ++ break_ ++ skip ++ tie ++ multi)
      .toDF("user_id", "event_id", "event_type", "event_epoch")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val plain = canon(Sessionize.sessionSequencesFrom(e))
    val bucketed = canon(Sessionize.sessionSequencesBucketedFrom(e))
    assert(bucketed == plain, {
      val p = plain.toSet; val b = bucketed.toSet
      s"only-plain=${(p -- b).take(3)} only-bucketed=${(b -- p).take(3)}"
    })
    // sanity: the torture set exercised what it claims
    val seqs = Sessionize.sessionSequencesFrom(e).collect()
      .map(r => r.getAs[String]("user_id") -> r.getAs[Long]("event_count")).toList
    assert(seqs.count(_._1 == "bot") == 1 && seqs.find(_._1 == "bot").get._2 == 3000L)
    assert(seqs.count(_._1 == "u_edge") == 1)   // merged across the boundary
    assert(seqs.count(_._1 == "u_break") == 2)  // split at the boundary
    assert(seqs.count(_._1 == "u_skip") == 2)
    assert(seqs.count(_._1 == "u_multi") == 6)
    // the spread collapse the bucketing buys: the heaviest
    // (user, bucket) window partition carries a small slice of the
    // bot's history, where the plain path's (user) partition holds ALL
    // of it — the straggler task shrinks by the session's bucket span
    val hotPlain = e.groupBy("user_id").count()
      .agg(max("count")).collect().head.getLong(0)
    val hotBucketed = e.groupBy(col("user_id"), floor(col("event_epoch") / B))
      .count().agg(max("count")).collect().head.getLong(0)
    assert(hotPlain == 3000L)
    assert(hotBucketed * 10 <= hotPlain,
      s"expected ≥10× per-partition collapse: $hotBucketed vs $hotPlain")
  }

  test("bucketed sessionize matches the plain path on real sf0.001 events") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(canon(Sessionize.sessionSequencesBucketed(spark, Sf)) ==
      canon(Sessionize.sessionSequences(spark, Sf)))
  }

  /** The planted torture frame for whole-family plain↔bucketed
    * equivalence: a bucket-crossing bot, boundary merges/breaks, empty
    * buckets, epoch ties, multi-session buckets, and a funnel user
    * whose view→click→purchase chain straddles a bucket boundary in
    * ORDER-SENSITIVE ways (a click before the first view, a purchase
    * before the first qualified click — both must not count). */
  private def familyTorture = {
    import spark.implicits._
    val B = Sessionize.BucketSeconds
    val G = Sessionize.GapSeconds
    val bot = (0 until 3000).map(i =>
      ("bot", f"b$i%05d",
        Seq("view", "click", "purchase", "error")(i % 4), 80000L + i * 600L))
    val edge = Seq(("u_edge", "e1", "view", B - 1L),
      ("u_edge", "e2", "purchase", B - 1L + G))
    val break_ = Seq(("u_break", "k1", "view", B - 1L),
      ("u_break", "k2", "view", B + G))
    val skip = Seq(("u_skip", "s1", "view", 100L),
      ("u_skip", "s2", "click", 3 * B + 100L))
    val tie = Seq(("u_tie", "t1", "view", 500L), ("u_tie", "t2", "click", 500L),
      ("u_tie", "t3", "purchase", 500L + G + 1))
    val multi = (0 until 6).map(i =>
      ("u_multi", s"m$i", Seq("view", "error")(i % 2), 10000L + i * (G + 10L)))
    // funnel torture: session crosses the boundary between its view
    // (bucket 0) and its click+purchase (bucket 1)
    val fx = Seq(("u_fx", "f1", "view", B - 900L), ("u_fx", "f2", "click", B + 100L),
      ("u_fx", "f3", "purchase", B + 200L))
    // click BEFORE the session's first view — must NOT start the chain;
    // the qualified click is in the next bucket
    val fpre = Seq(("u_fpre", "p1", "click", B - 800L), ("u_fpre", "p2", "view", B - 700L),
      ("u_fpre", "p3", "click", B + 50L), ("u_fpre", "p4", "purchase", B + 60L))
    // purchase between view and first qualified click — must NOT count
    val fmid = Seq(("u_fmid", "q1", "view", B - 500L), ("u_fmid", "q2", "purchase", B - 400L),
      ("u_fmid", "q3", "click", B + 10L))
    // shifted by whole buckets into the gate's valid years, with the
    // columns its typed filter needs; one u_multi event is out of range
    (bot ++ edge ++ break_ ++ skip ++ tie ++ multi ++ fx ++ fpre ++ fmid)
      .toDF("user_id", "event_id", "event_type", "event_epoch")
      .withColumn("event_epoch", col("event_epoch") + 19700L * B)
      .withColumn("ts", timestamp_seconds(col("event_epoch")))
      .withColumn("value", when(col("event_id") === "m3", -5.0).otherwise(10.0))
      .withColumn("props", lit("""{"k":1}"""))
      .withColumn("product_k", lit(1))
  }

  test("the whole bucketed session family equals its plain twin on the torture set") {
    val e = familyTorture
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val pairs: Seq[(String, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)] = Seq(
      ("daily", Sessionize.sessionDailyFrom(e), Sessionize.sessionDailyBucketedFrom(e)),
      ("error_impact", Sessionize.errorImpactFrom(e), Sessionize.errorImpactBucketedFrom(e)),
      ("concurrency", Sessionize.sessionConcurrencyFrom(e),
        Sessionize.sessionConcurrencyBucketedFrom(e)),
      ("transitions", Sessionize.sessionTransitionsFrom(e),
        Sessionize.sessionTransitionsBucketedFrom(e)),
      ("markov", Sessionize.markovNextEventFrom(e), Sessionize.markovNextEventBucketedFrom(e)),
      ("entry_exit", Sessionize.sessionEntryExitFrom(e),
        Sessionize.sessionEntryExitBucketedFrom(e)),
      ("funnel", Sessionize.sessionFunnelFrom(e), Sessionize.sessionFunnelBucketedFrom(e)),
      ("quality_gate", Sessionize.sessionQualityGateFrom(e),
        Sessionize.sessionQualityGateBucketedFrom(e)))
    pairs.foreach { case (name, plain, bucketed) =>
      assert(canon(plain) == canon(bucketed), s"$name diverged on the torture set")
    }
    // the gate saw every torture row and judged some sessions: u_multi's
    // out-of-range event, u_tie's purchase-only second session
    val gate = Sessionize.sessionQualityGateBucketedFrom(e).collect()
    def total(c: String) = gate.map(_.getAs[Long](c)).sum
    assert(total("events_total") == e.count())
    assert(total("q_range_sessions") == 1L && total("q_seq_sessions") == 1L)
    // pair multiset equality (the transitions/markov/surprise base):
    // boundary pairs really are recovered, not just aggregate-equal
    val pPlain = canon(Sessionize.sessionPairsFrom(e))
    val pBucketed = canon(Sessionize.sessionPairsBucketedFrom(e))
    assert(pPlain == pBucketed, {
      val a = pPlain.groupBy(identity).view.mapValues(_.size).toMap
      val b = pBucketed.groupBy(identity).view.mapValues(_.size).toMap
      s"pairs diverged: only-plain=${(a.toSet -- b.toSet).take(3)} " +
        s"only-bucketed=${(b.toSet -- a.toSet).take(3)}"
    })
    // surprise: same sessions, same bits (sum order differs → tolerance)
    val nSessions = Sessionize.sessionPairsFrom(e)
      .select("user_id", "session_idx").distinct().count().toInt + 1
    def bits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getAs[Long]("n_transitions"), r.getAs[Double]("bits_per_transition"))).toMap
    val sp = bits(Sessionize.sessionSurpriseFrom(e, nSessions))
    val sb = bits(Sessionize.sessionSurpriseBucketedFrom(e, nSessions))
    assert(sp.keySet == sb.keySet)
    sp.foreach { case (k, (n, b)) =>
      assert(sb(k)._1 == n, s"surprise n_transitions diverged at $k")
      assert(math.abs(sb(k)._2 - b) < 1e-9, s"surprise bits diverged at $k")
    }
    // the funnel torture cases landed where ordered semantics demand
    val fDays = Sessionize.sessionFunnelFrom(
      e.filter(col("user_id").startsWith("u_f"))).collect()
    assert(fDays.map(_.getAs[Long]("with_purchase")).sum == 2L,
      "u_fx and u_fpre convert; u_fmid's pre-click purchase must not")
  }

  test("the whole bucketed session family equals its plain twin on real sf0.001 events") {
    val e = graft.operators.EventMarts.enriched(spark, Sf)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val pairs: Seq[(String, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)] = Seq(
      ("daily", Sessionize.sessionDailyFrom(e), Sessionize.sessionDailyBucketedFrom(e)),
      ("error_impact", Sessionize.errorImpactFrom(e), Sessionize.errorImpactBucketedFrom(e)),
      ("concurrency", Sessionize.sessionConcurrencyFrom(e),
        Sessionize.sessionConcurrencyBucketedFrom(e)),
      ("transitions", Sessionize.sessionTransitionsFrom(e),
        Sessionize.sessionTransitionsBucketedFrom(e)),
      ("markov", Sessionize.markovNextEventFrom(e), Sessionize.markovNextEventBucketedFrom(e)),
      ("entry_exit", Sessionize.sessionEntryExitFrom(e),
        Sessionize.sessionEntryExitBucketedFrom(e)),
      ("funnel", Sessionize.sessionFunnelFrom(e), Sessionize.sessionFunnelBucketedFrom(e)),
      ("patterns", Sessionize.sessionPatterns(spark, Sf),
        Sessionize.sessionPatternsBucketed(spark, Sf)),
      ("quality_gate", Sessionize.sessionQualityGateFrom(e),
        Sessionize.sessionQualityGateBucketedFrom(e)))
    pairs.foreach { case (name, plain, bucketed) =>
      assert(canon(plain) == canon(bucketed), s"$name diverged on sf0.001")
    }
  }

  test("bucketed gate catches a duplicate event_id that CROSSES a bucket boundary") {
    import spark.implicits._
    // a bucket boundary inside the valid-timestamp range (2023) — the
    // gate's f_ts check reads the year
    val B = (1700000000L / Sessionize.BucketSeconds + 1) * Sessionize.BucketSeconds
    // one session straddling the boundary; the replayed event_id 'dup'
    // appears once per bucket — a per-bucket distinct would miss it
    val rows = Seq(
      ("u1", "dup", "view", B - 100L),
      ("u1", "a2", "click", B - 50L),
      ("u1", "dup", "view", B + 20L),
      // control user: clean session, same shape
      ("u2", "c1", "view", B - 100L),
      ("u2", "c2", "click", B + 20L))
    val e = rows.toDF("user_id", "event_id", "event_type", "event_epoch")
      .withColumn("ts", timestamp_seconds(col("event_epoch")))
      .withColumn("value", lit(10.0))
      .withColumn("props", lit("""{"k":1}"""))
      .withColumn("product_k", lit(1))
    val out = Sessionize.sessionQualityGateBucketedFrom(e).collect()
    assert(out.map(_.getAs[Long]("sessions_total")).sum == 2L)
    assert(out.map(_.getAs[Long]("q_dup_sessions")).sum == 1L,
      "cross-bucket duplicate must quarantine exactly the replayed session")
    assert(out.map(_.getAs[Long]("sessions_quarantined")).sum == 1L)
    // and the plain gate agrees
    val plain = Sessionize.sessionQualityGateFrom(e).collect()
    assert(plain.map(_.toSeq).sortBy(_.toString).toSeq ==
      out.map(_.toSeq).sortBy(_.toString).toSeq)
  }

  test("sessionSequencesAuto arms on a measured hot user and stays plain on uniform data") {
    import spark.implicits._
    // 1 bot (2000 rows) + 20 two-row users → ratio = 2000·21/2040 ≈ 20.6 > 16
    val hot = ((0 until 2000).map(i => ("bot", s"h$i", "view", 1000L + i * 10L)) ++
      (0 until 40).map(i => (s"u${i % 20}", s"n$i", "view", 1000L + i * 5000L)))
      .toDF("user_id", "event_id", "event_type", "event_epoch")
    val (armedDf, armedPlan) = Sessionize.sessionSequencesAuto(hot)
    assert(armedPlan.armed, s"hot user must arm the bucketed path: $armedPlan")
    assert(armedDf.collect().map(_.toSeq).sortBy(_.toString).toSeq ==
      Sessionize.sessionSequencesFrom(hot).collect().map(_.toSeq).sortBy(_.toString).toSeq)
    val uniform = (0 until 80).map(i => (s"u${i % 8}", s"n$i", "view", 1000L + i * 5000L))
      .toDF("user_id", "event_id", "event_type", "event_epoch")
    val (_, flatPlan) = Sessionize.sessionSequencesAuto(uniform)
    assert(!flatPlan.armed, s"uniform data must not arm: $flatPlan")
  }

  test("session transitions: planted counts exact, rates sum to 100 per origin, no cross-session pair") {
    import spark.implicits._
    val e = Seq(
      ("u1", "e1", "view", 1000L), ("u1", "e2", "click", 1010L),
      ("u1", "e3", "view", 1020L), ("u1", "e4", "purchase", 1030L),
      // second session (gap 8970s > 1800s): a lone view — contributes
      // no transition, and purchase->view must NOT appear
      ("u1", "e5", "view", 10000L))
      .toDF("user_id", "event_id", "event_type", "event_epoch")
    val rows = Sessionize.sessionTransitionsFrom(e).collect()
    val m = rows.map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type"))
      -> r.getAs[Long]("transition_count")).toMap
    assert(m == Map(("view", "click") -> 1L, ("click", "view") -> 1L, ("view", "purchase") -> 1L))
    val viewRates = rows.filter(_.getAs[String]("from_type") == "view")
      .map(_.getAs[Double]("transition_rate"))
    assert(viewRates.sorted.sameElements(Array(50.0, 50.0)))
    assert(rows.filter(_.getAs[String]("from_type") == "click")
      .map(_.getAs[Double]("transition_rate")).sameElements(Array(100.0)))
  }

  test("session daily: bounce/conversion rates and start-day attribution on planted sessions") {
    import spark.implicits._
    // day 1970-01-01: u1 a 2-event converting session, u2 a 1-event
    // bounce; day 1970-01-02: u1 a lone view (session counted on its
    // START day via integer epoch arithmetic)
    val e = Seq(
      ("u1", "e1", "view", 1000L), ("u1", "e2", "purchase", 1060L),
      ("u2", "e3", "view", 2000L),
      ("u1", "e4", "view", 86400L + 500L))
      .toDF("user_id", "event_id", "event_type", "event_epoch")
    val rows = Sessionize.sessionDailyFrom(e).collect()
    assert(rows.length == 2)
    val d0 = rows.head
    assert(d0.getAs[java.sql.Date]("session_date").toString == "1970-01-01")
    assert(d0.getAs[Long]("sessions") == 2L)
    assert(d0.getAs[Double]("avg_events_per_session") == 1.5)
    assert(d0.getAs[Double]("bounce_rate") == 50.0)
    assert(d0.getAs[Double]("conversion_rate") == 50.0)
    val d1 = rows(1)
    assert(d1.getAs[java.sql.Date]("session_date").toString == "1970-01-02")
    assert(d1.getAs[Long]("sessions") == 1L)
    assert(d1.getAs[Double]("bounce_rate") == 100.0)
    assert(d1.getAs[Double]("conversion_rate") == 0.0)
  }

  test("session concurrency: inclusive-end overlap, midnight carry, carry-beats-in-day peak") {
    import spark.implicits._
    def sess(u: String, epochs: Seq[Long]): Seq[(String, String, String, Long)] =
      epochs.zipWithIndex.map { case (ep, i) => (u, s"$u-$i", "view", ep) }
    val e = (
      // u1 spans hour buckets 0..2 (one session, gaps ≤ 1800)
      sess("u1", Seq(100L, 1600L, 3100L, 4600L, 6100L, 7300L)) ++
      sess("u3", Seq(200L)) ++          // single-event session: +1/−1 at same epoch
      sess("u2", Seq(7300L, 7400L)) ++  // starts exactly as u1 ends → overlap at 7300
      // u4 straddles midnight: starts day 0, ends day 1 at 90000
      sess("u4", Seq(80000L, 81700L, 83400L, 85100L, 86800L, 88500L, 90000L))
    ).toDF("user_id", "event_id", "event_type", "event_epoch")
    val rows = Sessionize.sessionConcurrencyFrom(e).collect()
    assert(rows.length == 2)
    val d0 = rows.head
    assert(d0.getAs[java.sql.Date]("session_date").toString == "1970-01-01")
    // peak 2 twice: u1+u3 at 200 and u1+u2 at the shared epoch 7300
    assert(d0.getAs[Long]("peak_concurrent_sessions") == 2L)
    assert(d0.getAs[Long]("sessions_started") == 4L)
    assert(d0.getAs[Long]("sessions_ended") == 3L)
    val d1 = rows(1)
    assert(d1.getAs[java.sql.Date]("session_date").toString == "1970-01-02")
    // day 1's only boundary is u4's END: the in-day running value is 0,
    // but the carry-in (u4 still live at midnight) is the true peak
    assert(d1.getAs[Long]("peak_concurrent_sessions") == 1L)
    assert(d1.getAs[Long]("sessions_started") == 0L)
    assert(d1.getAs[Long]("sessions_ended") == 1L)
  }

  test("window funnel: greedy chain start, exact window edge, ties, out-of-order steps") {
    import spark.implicits._
    val e = Seq(
      // u1: completes at exactly window span (86500-100 = 86400)
      ("u1", "view", 100L), ("u1", "click", 200L), ("u1", "purchase", 86500L),
      // u1's later purchase is out of window but the first one counts
      ("u1", "purchase", 200000L),
      // u2: the FIRST click has no prior view — the chain must route
      // through the second click (max-over-carts, not last-cart)
      ("u2", "click", 100L), ("u2", "view", 200L), ("u2", "click", 300L),
      ("u2", "purchase", 400L),
      // u3: view→click pair exceeds the window → stuck at level 1
      ("u3", "view", 100L), ("u3", "click", 90000L),
      // u4: no funnel step at all
      ("u4", "error", 100L),
      // u5: all three steps at the SAME epoch — ties are inclusive
      ("u5", "view", 500L), ("u5", "click", 500L), ("u5", "purchase", 500L),
      // u6: steps present but in reverse time order — no chain
      ("u6", "purchase", 100L), ("u6", "click", 200L), ("u6", "view", 300L))
      .toDF("user_id", "event_type", "event_epoch")
    val got = FunnelWindow.windowFunnel(e, Seq("view", "click", "purchase"), 86400L)
      .collect().map(r => r.getAs[String]("user_id") ->
        ((r.getAs[Int]("funnel_level"),
          Option(r.getAs[java.lang.Long]("first_completion_epoch")).map(_.toLong)))).toMap
    assert(got == Map(
      "u1" -> ((3, Some(86500L))), "u2" -> ((3, Some(400L))),
      "u3" -> ((1, None)), "u4" -> ((0, None)),
      "u5" -> ((3, Some(500L))), "u6" -> ((1, None))))
  }

  test("transition total = events - sessions; daily sessions sum = session count") {
    // every k-event session contributes exactly k-1 transitions
    val events = Tables.events(spark, Sf).count()
    val sessions = Sessionize.sessionSequences(spark, Sf).count()
    val trans = Sessionize.sessionTransitions(spark, Sf)
      .agg(sum("transition_count")).collect().head.getLong(0)
    assert(trans == events - sessions)
    val daily = Sessionize.sessionDaily(spark, Sf)
      .agg(sum("sessions")).collect().head.getLong(0)
    assert(daily == sessions)
  }

  test("session funnel enforces within-session order: click before view doesn't count") {
    import spark.implicits._
    def t(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      // u1: full ordered funnel in one session
      (1L, t("2024-02-01 09:00:00"), 1L, "view", 1.0, "{}"),
      (2L, t("2024-02-01 09:01:00"), 1L, "click", 1.0, "{}"),
      (3L, t("2024-02-01 09:02:00"), 1L, "purchase", 9.0, """{"k":1}"""),
      // u2: click BEFORE the first view -> no click credit, no purchase chain
      (4L, t("2024-02-01 09:00:00"), 2L, "click", 1.0, "{}"),
      (5L, t("2024-02-01 09:01:00"), 2L, "view", 1.0, "{}"),
      (6L, t("2024-02-01 09:02:00"), 2L, "purchase", 9.0, """{"k":1}"""),
      // u3: purchase before click -> view+click credit only
      (7L, t("2024-02-01 09:00:00"), 3L, "view", 1.0, "{}"),
      (8L, t("2024-02-01 09:01:00"), 3L, "purchase", 9.0, """{"k":1}"""),
      (9L, t("2024-02-01 09:02:00"), 3L, "click", 1.0, "{}"),
      // u4: same-second view+click+purchase all count (>= semantics)
      (10L, t("2024-02-01 09:00:00"), 4L, "view", 1.0, "{}"),
      (11L, t("2024-02-01 09:00:00"), 4L, "click", 1.0, "{}"),
      (12L, t("2024-02-01 09:00:00"), 4L, "purchase", 9.0, """{"k":1}"""),
      // u5: two sessions -- first view-only, second (>30min later) full
      (13L, t("2024-02-01 09:00:00"), 5L, "view", 1.0, "{}"),
      (14L, t("2024-02-01 11:00:00"), 5L, "view", 1.0, "{}"),
      (15L, t("2024-02-01 11:01:00"), 5L, "click", 1.0, "{}"),
      (16L, t("2024-02-01 11:02:00"), 5L, "purchase", 9.0, """{"k":1}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Sessionize.sessionFunnelFrom(EventMarts.enrich(rows)).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("sessions") == 6)
    assert(r.getAs[Long]("with_view") == 6)      // every session has a view
    assert(r.getAs[Long]("with_click") == 4)     // u1, u4, u5s2 + u3 (click after view)
    assert(r.getAs[Long]("with_purchase") == 3)  // u1, u4, u5s2 (u3's purchase precedes its click)
  }

  test("quality gate quarantines exactly the crafted sessions, by reason") {
    import spark.implicits._
    def t(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
    val rows: Seq[(java.lang.Long, java.sql.Timestamp, java.lang.Long, String, java.lang.Double, String)] = Seq(
      // u1: clean funnel session
      (1L, t("2024-02-01 09:00:00"), 1L, "view", 1.0, "{}"),
      (2L, t("2024-02-01 09:10:00"), 1L, "purchase", 10.0, """{"k":5}"""),
      // u2: purchase with no prior touch in-session -> q_seq
      (3L, t("2024-02-01 10:00:00"), 2L, "purchase", 10.0, """{"k":5}"""),
      // u3: duplicated event_id inside one session -> q_dup
      (4L, t("2024-02-01 09:00:00"), 3L, "view", 1.0, "{}"),
      (4L, t("2024-02-01 09:00:10"), 3L, "view", 1.0, "{}"),
      // u4: negative value mid-session -> q_range
      (6L, t("2024-02-01 09:00:00"), 4L, "view", 1.0, "{}"),
      (7L, t("2024-02-01 09:01:00"), 4L, "click", -5.0, "{}"),
      (8L, t("2024-02-01 09:02:00"), 4L, "view", 1.0, "{}"),
      // u5: timestamp outside [2020, 2030] -> q_ts
      (9L, t("2035-02-01 09:00:00"), 5L, "view", 1.0, "{}"),
      // u6: purchase with out-of-range product id -> q_integrity
      (10L, t("2024-02-01 09:00:00"), 6L, "view", 1.0, "{}"),
      (11L, t("2024-02-01 09:05:00"), 6L, "purchase", 10.0, """{"k":200}"""),
      // u7: one clean session, then (>30min later) one bad-value session
      (12L, t("2024-02-01 09:00:00"), 7L, "view", 1.0, "{}"),
      (13L, t("2024-02-01 09:01:00"), 7L, "click", 1.0, "{}"),
      (14L, t("2024-02-01 11:00:00"), 7L, "view", 1.0, "{}"),
      (15L, t("2024-02-01 11:01:00"), 7L, "click", -5.0, "{}"),
      // null user_id: dropped before sessionization (fails null_check)
      (16L, t("2024-02-01 09:00:00"), null, "view", 1.0, "{}"))
    val e = EventMarts.enrich(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val g = Sessionize.sessionQualityGateFrom(e).collect()
    assert(g.length == 2) // 2024-02-01 plus the 2035 session's own day
    val byDay = g.map(r => r.getAs[java.sql.Date]("session_date").toString -> r).toMap
    val d = byDay("2024-02-01")
    assert(d.getAs[Long]("sessions_total") == 7)
    assert(d.getAs[Long]("sessions_quarantined") == 5)
    assert(d.getAs[Long]("events_total") == 14)
    assert(d.getAs[Long]("events_quarantined") == 10)
    assert(d.getAs[Long]("q_range_sessions") == 2) // u4 + u7's second session
    assert(d.getAs[Long]("q_dup_sessions") == 1)
    assert(d.getAs[Long]("q_integrity_sessions") == 1)
    assert(d.getAs[Long]("q_seq_sessions") == 1)
    val d35 = byDay("2035-02-01")
    assert(d35.getAs[Long]("q_ts_sessions") == 1 && d35.getAs[Long]("sessions_quarantined") == 1)
    // the filter view is the exact complement: u1's session + u7's first
    val kept = Sessionize.cleanEvents(e)
    assert(kept.count() == 4)
    assert(kept.select("event_id").as[Long].collect().sorted.sameElements(Array(1L, 2L, 12L, 13L)))
    // gate columns do not leak into the cleaned frame
    assert(kept.columns.sameElements(e.columns))
  }

  test("quality gate closed loop on generated sessions: clean passes whole, anomalies complement exactly") {
    val clean = graft.sources.EventGenerator.sessionEvents(spark, 60L, 3)
    val e = EventMarts.enrich(clean)
    // pure generator output is violation-free: every event survives the gate
    assert(Sessionize.cleanEvents(e).count() == clean.count())
    assert(Sessionize.sessionQualityGateFrom(e)
      .agg(sum("sessions_quarantined")).collect().head.getLong(0) == 0L)
    val dirty = EventMarts.enrich(graft.sources.EventGenerator.withAnomalies(clean)).cache()
    try {
      val tot = Sessionize.sessionQualityGateFrom(dirty)
        .agg(sum("sessions_quarantined").as("sq"), sum("events_total").as("et"),
          sum("events_quarantined").as("eq"),
          sum("q_range_sessions").as("qr"), sum("q_ts_sessions").as("qt"))
        .collect().head
      // injected bad-value and bad-ts classes must surface at session grain
      assert(tot.getAs[Long]("sq") > 0 && tot.getAs[Long]("qr") > 0 && tot.getAs[Long]("qt") > 0)
      // cleanEvents is the exact complement of quarantined events among typed rows
      val kept = Sessionize.cleanEvents(dirty).cache()
      assert(kept.count() == tot.getAs[Long]("et") - tot.getAs[Long]("eq"))
      // and RE-GATING the kept rows quarantines nothing: dropping whole
      // sessions only widens per-user gaps, so sessions re-derive
      // identically and every one of them is clean
      assert(Sessionize.sessionQualityGateFrom(kept)
        .agg(sum("sessions_quarantined")).collect().head.getLong(0) == 0L)
      kept.unpersist()
    } finally {
      dirty.unpersist()
      ()
    }
  }
}

class QualitySpec extends SparkSpec {
  test("all 7 checks emit one row with pass_rate in [0,100]") {
    val rows = Quality.summary(spark, Sf).collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      val pr = r.getAs[Double]("pass_rate")
      assert(pr >= 0.0 && pr <= 100.0, s"${r.getAs[String]("check_name")} pass_rate=$pr")
      assert(Set("PASS", "FAIL").contains(r.getAs[String]("status")))
    }
  }

  test("orders reconcile counts exactly the crafted orphans, childless orders, and cent drifts") {
    import spark.implicits._
    val orders = Seq(
      (1L, 21.40),  // matches its lineitems exactly
      (2L, 99.99),  // header drifts from the 21.40 detail sum
      (3L, 10.00)   // childless
    ).toDF("o_orderkey", "o_totalprice")
    val lineitem = Seq(
      // order 1: 10.00*(1-0.0)*(1+0.07)=10.70 twice -> 21.40
      (1L, 10.00, 0.00, 0.07),
      (1L, 10.00, 0.00, 0.07),
      // order 2: same detail, mismatched header
      (2L, 10.00, 0.00, 0.07),
      (2L, 10.00, 0.00, 0.07),
      // orphan: no order 9
      (9L, 5.00, 0.10, 0.00)
    ).toDF("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
    val got = Quality.ordersReconcileFrom(orders, lineitem).collect()
      .map(r => r.getAs[String]("check_name") ->
        ((r.getAs[Long]("total_records"), r.getAs[Long]("failed_records"),
          r.getAs[String]("status")))).toMap
    assert(got("orphan_lineitem_check") == ((5L, 1L, "FAIL")))
    assert(got("order_coverage_check") == ((3L, 1L, "FAIL")))
    assert(got("amount_reconcile_check") == ((2L, 1L, "FAIL")))
    // corpus run: three rows, the standard check shape
    val corpus = Quality.ordersReconcile(spark, Sf).collect()
    assert(corpus.length == 3)
    corpus.foreach { r =>
      val pr = r.getAs[Double]("pass_rate")
      assert(pr >= 0.0 && pr <= 100.0)
    }
  }

  test("corpus coverage counts exactly the crafted gaps, orphans, and dim outliers") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val emb = Seq(
      (1L, Array(1f, 2f)),   // aligned, dominant dim 2
      (2L, Array(3f, 4f, 5f)), // aligned but dim 3 -> uniformity fail
      (9L, Array(6f, 7f))    // orphan (no doc 9)
    ).toDF("vec_id", "embedding")
    val got = Quality.corpusCoverageFrom(docs, emb).collect()
      .map(r => r.getAs[String]("check_name") ->
        ((r.getAs[Long]("total_records"), r.getAs[Long]("failed_records")))).toMap
    assert(got("embedding_coverage_check") == ((3L, 1L))) // doc 3 has no vector
    assert(got("orphan_embedding_check") == ((3L, 1L)))
    assert(got("dim_uniformity_check") == ((3L, 1L)))     // dim 3 loses to dominant dim 2
    // the driver corpus is perfectly aligned: all three checks pass clean
    val corpus = Quality.corpusCoverage(spark, Sf).collect()
      .map(r => r.getAs[String]("check_name") -> r.getAs[Long]("failed_records")).toMap
    assert(corpus.values.forall(_ == 0L), s"testdata misaligned: $corpus")
    // EMPTY embeddings table: dim_uniformity aggregates over zero dim
    // rows — must land 0/0 PASS like the other checks, never a NULL
    // pass_rate read as FAIL
    val emptyEmb = emb.limit(0)
    val empty = Quality.corpusCoverageFrom(docs, emptyEmb).collect()
      .map(r => r.getAs[String]("check_name") ->
        ((r.getAs[Long]("total_records"), r.getAs[Long]("failed_records"),
          r.getAs[String]("status")))).toMap
    assert(empty("dim_uniformity_check") == ((0L, 0L, "PASS")), s"got $empty")
    assert(empty("orphan_embedding_check") == ((0L, 0L, "PASS")))
    assert(empty("embedding_coverage_check") == ((3L, 3L, "FAIL")))
  }

  test("clean synthetic data passes null/duplicate/timestamp checks") {
    val byName = Quality.summary(spark, Sf).collect()
      .map(r => r.getAs[String]("check_name") -> r.getAs[String]("status")).toMap
    assert(byName("null_check") == "PASS")
    assert(byName("duplicate_check") == "PASS")
    assert(byName("timestamp_check") == "PASS")
  }

  test("freshness check flags days whose feed stopped early, passes full days") {
    import spark.implicits._
    val raw = Seq(
      (1L, 1L, "2024-01-01 00:10:00", "view", "{}"),
      (2L, 1L, "2024-01-01 23:30:00", "view", "{}"),  // 1800s lag → fresh
      (3L, 2L, "2024-01-02 01:00:00", "view", "{}"),
      (4L, 2L, "2024-01-02 10:00:00", "view", "{}"))  // 50400s lag → stale
      .toDF("event_id", "user_id", "ts", "event_type", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = Quality.freshnessCheckFrom(operators.EventMarts.enrich(raw)).collect().head
    assert(r.getAs[Long]("total_records") == 2)   // two days checked
    assert(r.getAs[Long]("failed_records") == 1)  // only Jan 2 is stale
    assert(r.getAs[String]("status") == "FAIL")   // 50% pass rate < 99
    // corpus: denominator is the day count, rate well-formed (sparse
    // sf0.001 days CAN legitimately be stale — no status assumption)
    val sf = Quality.freshnessCheck(spark, Sf).collect().head
    val days = Tables.events(spark, Sf).filter(col("ts").isNotNull)
      .select(col("ts").cast("date")).distinct().count()
    assert(sf.getAs[Long]("total_records") == days)
    val pr = sf.getAs[Double]("pass_rate")
    assert(pr >= 0.0 && pr <= 100.0)
  }

  test("value drift: identical shapes score 0, a disjoint unit shift scores 2") {
    import spark.implicits._
    def day(d: String, scale: Double, n: Int, idBase: Long) =
      (0 until n).map(i => (idBase + i, 1L, s"$d 10:0${i % 6}:00", "view",
        (i % 4 + 1) * scale, "{}"))
    // days 1-2: same shape at scale 1 → drift 0; day 3: values ×1000
    // (a unit bug) → every event changes bucket → L1 = 2
    val raw = (day("2024-01-01", 1.0, 12, 0) ++ day("2024-01-02", 1.0, 12, 100) ++
        day("2024-01-03", 1000.0, 12, 200))
      .toDF("event_id", "user_id", "ts", "event_type", "value", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = Quality.valueDriftFrom(operators.EventMarts.enrich(raw)).collect()
      .map(r => r.getAs[java.sql.Date]("event_date").toString ->
        r.getAs[Double]("l1_drift")).toMap
    assert(got.keySet == Set("2024-01-02", "2024-01-03")) // first day has no prior
    assert(got("2024-01-02") == 0.0, s"identical shape must score 0: $got")
    assert(got("2024-01-03") == 2.0, s"disjoint support must score 2: $got")
    // corpus: drift is bounded and every day after the first is scored
    val sf = Quality.valueDrift(spark, Sf).collect()
    assert(sf.nonEmpty)
    sf.foreach { r =>
      val d = r.getAs[Double]("l1_drift")
      assert(d >= 0.0 && d <= 2.0)
    }
  }

  test("schema drift census covers every non-null props row by (day, key)") {
    val rows = Quality.schemaDrift(spark, Sf).collect()
    assert(rows.nonEmpty)
    // this corpus's props carry exactly one key; the census must tie
    // out to the non-null row count day by day
    assert(rows.forall(_.getAs[String]("prop_key") == "k"))
    val perDay = Tables.events(spark, Sf)
      .filter(col("ts").isNotNull && col("props").isNotNull)
      .groupBy(col("ts").cast("date").as("d")).count().collect()
      .map(r => r.getAs[java.sql.Date]("d").toString -> r.getAs[Long]("count")).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_events") ==
        perDay(r.getAs[java.sql.Date]("event_date").toString))
    }
  }

  test("volume anomaly z-scores match a plain-Scala trailing-window recompute") {
    val daily = Tables.events(spark, Sf).filter(col("ts").isNotNull)
      .groupBy(col("ts").cast("date").as("d"), col("event_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[java.sql.Date]("d").toString, r.getAs[Long]("n")))
    // dense-fill the (day × type) grid like the operator does, so a
    // missing bucket scores as an explicit zero
    val allDays = {
      val ds = daily.map(_._2).distinct.sorted
      val (d0, d1) = (java.time.LocalDate.parse(ds.head), java.time.LocalDate.parse(ds.last))
      Iterator.iterate(d0)(_.plusDays(1)).takeWhile(!_.isAfter(d1)).map(_.toString).toSeq
    }
    val types = daily.map(_._1).distinct
    val byKey = daily.map(r => (r._1, r._2) -> r._3).toMap
    val expected = types.flatMap { et =>
      val sorted = allDays.map(d => (d, byKey.getOrElse((et, d), 0L)))
      sorted.indices.flatMap { i =>
        val trail = sorted.slice(math.max(0, i - 7), i).map(_._2)
        if (trail.length < 3) None
        else {
          val n = trail.length
          val mean = trail.sum.toDouble / n
          val varr = (trail.map(x => x * x).sum.toDouble - trail.sum.toDouble * trail.sum / n) / (n - 1)
          val z = if (varr > 0) Some((sorted(i)._2 - mean) / math.sqrt(varr)) else None
          Some((et, sorted(i)._1) -> (sorted(i)._2, mean, z))
        }
      }
    }.toMap
    val got = Quality.volumeAnomaly(spark, Sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[java.sql.Date]("event_date").toString) ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("trail_mean"),
         Option(r.getAs[java.lang.Double]("z_score")).map(_.doubleValue))).toMap
    assert(got.nonEmpty && got.keySet == expected.keySet)
    got.foreach { case (k, (n, m, z)) =>
      val (en, em, ez) = expected(k)
      assert(n == en && m == em && z == ez, s"$k: got ($n,$m,$z) expected ($en,$em,$ez)")
    }
  }

  test("merged histogram percentiles serve hand-computed bucket bounds from daily partials") {
    import spark.implicits._
    // day 1: 0.5, 3×3.0; day 2: 4×10.0, 2×100.0 — sorted corpus
    // 0.5,3,3,3,10,10,10,10,100,100: p50→rank 5→10 (bucket 4, [8,16)),
    // p90→rank 9→100 (bucket 7, [64,128)), p99→rank 10→100
    val e = operators.EventMarts.enrich(Seq(
      (1L, 1L, "2024-01-01 10:00:00", "view", 0.5),
      (2L, 1L, "2024-01-01 10:01:00", "view", 3.0),
      (3L, 1L, "2024-01-01 10:02:00", "view", 3.0),
      (4L, 1L, "2024-01-01 10:03:00", "view", 3.0),
      (5L, 2L, "2024-01-02 10:00:00", "view", 10.0),
      (6L, 2L, "2024-01-02 10:01:00", "view", 10.0),
      (7L, 2L, "2024-01-02 10:02:00", "view", 10.0),
      (8L, 2L, "2024-01-02 10:03:00", "view", 10.0),
      (9L, 2L, "2024-01-02 10:04:00", "purchase", 100.0),
      (10L, 2L, "2024-01-02 10:05:00", "purchase", 100.0))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("props", lit("{}")))
    val hist = Quality.valueHistogramDailyFrom(e)
    val partials = hist.collect()
      .map(r => (r.getAs[java.sql.Date]("event_date").toString, r.getAs[Int]("bucket")) ->
        r.getAs[Long]("n_events")).toMap
    assert(partials == Map(
      ("2024-01-01", 0) -> 1L, ("2024-01-01", 2) -> 3L,
      ("2024-01-02", 4) -> 4L, ("2024-01-02", 7) -> 2L))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Int]("pct") ->
        ((r.getAs[Long]("target_rank"), r.getAs[Long]("n_total"),
          r.getAs[Int]("bucket"), r.getAs[Double]("bound_lo"),
          Option(r.getAs[java.lang.Double]("bound_hi")).map(_.doubleValue)))).toMap
    val got = asMap(Quality.valuePercentilesMergedFrom(hist))
    assert(got(50) == ((5L, 10L, 4, 8.0, Some(16.0))))
    assert(got(90) == ((9L, 10L, 7, 64.0, Some(128.0))))
    assert(got(99) == ((10L, 10L, 7, 64.0, Some(128.0))))
    // mergeability: the union of INDEPENDENTLY built daily partials
    // serves identically — histogram merge is plain integer addition
    val d1 = Quality.valueHistogramDailyFrom(e.filter(col("event_date") === "2024-01-01"))
    val d2 = Quality.valueHistogramDailyFrom(e.filter(col("event_date") === "2024-01-02"))
    assert(asMap(Quality.valuePercentilesMergedFrom(d1.unionByName(d2))) == got)
  }

  test("latency histogram excludes negative gaps; merged percentiles hit hand-computed buckets") {
    import spark.implicits._
    val orders = Seq((1L, "2024-01-05"), (2L, "2024-02-01"))
      .toDF("o_orderkey", "o_orderdate")
      .withColumn("o_orderdate", col("o_orderdate").cast("date"))
    val lineitem = Seq(
      (1L, "2024-01-05"), // +0d  → bucket 0
      (1L, "2024-01-06"), // +1d  → bucket 1
      (1L, "2024-01-08"), // +3d  → bucket 2
      (1L, "2024-01-15"), // +10d → bucket 4
      (2L, "2024-01-27")) // −5d  → excluded (reconcile territory)
      .toDF("l_orderkey", "l_shipdate")
      .withColumn("l_shipdate", col("l_shipdate").cast("date"))
    val hist = Quality.shippingLatencyHistogramFrom(orders, lineitem)
    val h = hist.collect()
      .map(r => (r.getAs[java.sql.Date]("order_month").toString, r.getAs[Int]("bucket")) ->
        r.getAs[Long]("n_events")).toMap
    assert(h == Map(
      ("2024-01-01", 0) -> 1L, ("2024-01-01", 1) -> 1L,
      ("2024-01-01", 2) -> 1L, ("2024-01-01", 4) -> 1L))
    // served: N=4 → p50 rank 2 → bucket 1 [1,2); p90/p99 rank 4 → bucket 4 [8,16)
    val served = Quality.valuePercentilesMergedFrom(hist).collect()
      .map(r => r.getAs[Int]("pct") ->
        ((r.getAs[Long]("target_rank"), r.getAs[Int]("bucket"),
          r.getAs[Double]("bound_lo"), r.getAs[Double]("bound_hi")))).toMap
    assert(served(50) == ((2L, 1, 1.0, 2.0)))
    assert(served(90) == ((4L, 4, 8.0, 16.0)))
    assert(served(99) == ((4L, 4, 8.0, 16.0)))
    // sf: the served total counts exactly the non-negative-gap lines
    val n = Quality.shippingLatencyPercentiles(spark, Sf).collect()
      .head.getAs[Long]("n_total")
    val expected = Tables.lineitem(spark, Sf)
      .join(Tables.orders(spark, Sf), col("l_orderkey") === col("o_orderkey"))
      .filter(datediff(col("l_shipdate"), col("o_orderdate")) >= 0).count()
    assert(n == expected)
  }

  test("key skew census ranks planted hot keys with exact shares and ratios") {
    import spark.implicits._
    // key 1 → 60 rows, key 2 → 30, keys 3..12 → 1 each (total 100, 12 keys);
    // a null key row must be excluded before counting
    val rows = Seq.fill(60)(1L) ++ Seq.fill(30)(2L) ++ (3L to 12L)
    val e = rows.map(Option(_)).:+(None: Option[Long]).toDF("user_id")
    val got = Quality.keySkewFrom(e).collect()
    assert(got.length == 12) // fewer keys than topK → all surface
    val r1 = got.head
    assert(r1.getAs[Int]("rank") == 1 && r1.getAs[Long]("key_value") == 1L)
    assert(r1.getAs[Long]("n_rows") == 60L)
    assert(r1.getAs[Double]("share_pct") == 60.0)
    assert(r1.getAs[Double]("cum_share_pct") == 60.0)
    assert(r1.getAs[Double]("ratio_to_avg") == 60.0 * 12.0 / 100.0)
    assert(r1.getAs[Long]("n_keys") == 12L && r1.getAs[Long]("total_rows") == 100L)
    val r2 = got(1)
    assert(r2.getAs[Long]("key_value") == 2L && r2.getAs[Double]("cum_share_pct") == 90.0)
    // the singleton tail ranks by key ascending, cum share reaches 100
    assert(got.drop(2).map(_.getAs[Long]("key_value")).toSeq == (3L to 12L))
    assert(got.last.getAs[Double]("cum_share_pct") == 100.0)
    // topK truncation: with topK=2 only the two hot keys surface
    assert(Quality.keySkewFrom(e, topK = 2).collect().length == 2)
  }

  test("benford census: planted digits count exactly, expected shares are the fixed literals") {
    import spark.implicits._
    // cents: 123 (d1), 2500 (d2), 3 (d3), 99999900 (d9), plus drops:
    // null, zero, negative
    val e = Seq(
      (1L, 1.23), (2L, 25.00), (3L, 0.03), (4L, 999999.00),
      (5L, 1.77), (6L, 0.0), (7L, -8.0)
    ).toDF("event_id", "value")
      .withColumn("user_id", lit(1L))
      .withColumn("ts", lit("2024-01-01 10:00:00").cast("timestamp"))
      .withColumn("event_type", lit("purchase"))
      .withColumn("props", lit("{}"))
    val got = Quality.dqBenfordFrom(EventMarts.enrich(e)).collect()
      .map(r => r.getAs[Int]("digit") ->
        ((r.getAs[Long]("n_values"), r.getAs[Double]("observed_share"),
          r.getAs[Double]("expected_share")))).toMap
    assert(got.keySet == Set(1, 2, 3, 9))
    assert(got(1)._1 == 2L && got(2)._1 == 1L && got(3)._1 == 1L && got(9)._1 == 1L)
    assert(got(1)._2 == 0.4 && got(2)._2 == 0.2)
    // expected shares are the hard-coded Benford literals, verified
    // against a runtime log10 within float tolerance (the literals
    // exist so the ORACLE sees identical constants; they must still
    // BE Benford)
    Quality.BenfordExpected.foreach { case (d, x) =>
      assert(math.abs(x - math.log10(1.0 + 1.0 / d)) < 1e-15)
      if (got.contains(d)) assert(got(d)._3 == x)
    }
    // sf smoke: 9 digit rows, shares sum to 1
    val sf = Quality.dqBenford(spark, Sf).collect()
    assert(sf.length == 9)
    assert(math.abs(sf.map(_.getAs[Double]("observed_share")).sum - 1.0) < 1e-9)
  }

  test("column profile: planted nulls/dups count exactly per column; absent columns skip") {
    import spark.implicits._
    val e = Seq(
      (Some(1L), Some(1L), Some("view"), Some(1.0)),
      (Some(2L), Some(1L), Some("view"), None),
      (Some(3L), None: Option[Long], Some("click"), Some(2.0)),
      (Some(3L), Some(2L), None: Option[String], Some(1.0))
    ).toDF("event_id", "user_id", "event_type", "value")
    val rows = Quality.columnProfileFrom(e).collect()
    val got = rows.map(r => r.getAs[String]("column_name") ->
      ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_null"),
        r.getAs[Long]("n_distinct")))).toMap
    assert(got.keySet == Set("event_id", "user_id", "event_type", "value"))
    assert(got("event_id") == ((4L, 0L, 3L))) // dup id 3
    assert(got("user_id") == ((4L, 1L, 2L)))
    assert(got("event_type") == ((4L, 1L, 2L)))
    assert(got("value") == ((4L, 1L, 2L)))
    val u = rows.find(_.getAs[String]("column_name") == "user_id").get
    assert(u.getAs[Double]("null_share") == 0.25)
    assert(u.getAs[Double]("distinct_ratio") == 0.5)
    // sf: one row per events column, constant row count across columns
    val sf = Quality.columnProfile(spark, Sf).collect()
    assert(sf.map(_.getAs[String]("column_name")).toSet ==
      Set("event_id", "ts", "user_id", "event_type", "value", "props"))
    assert(sf.map(_.getAs[Long]("n_rows")).distinct.length == 1)
  }

  test("profile generalizes to any table; drift flags stat shifts the schema check misses") {
    import spark.implicits._
    val before = Seq((1L, Some("a")), (2L, Some("b")), (3L, Some("c")))
      .toDF("id", "cat")
    val after = Seq((1L, Some("a")), (2L, Some("a")),
      (3L, None: Option[String]), (4L, Some("a"))).toDF("id", "cat")
    val drift = Quality.profileDrift(
        Quality.profileAllFrom(before), Quality.profileAllFrom(after))
      .collect().map(r => r.getAs[String]("column_name") -> r).toMap
    // cat: null 0 → 0.25 and domain collapse → flags; id stays clean
    assert(drift("cat").getAs[Boolean]("drift_flag"))
    assert(drift("cat").getAs[Double]("null_share_delta") == 0.25)
    assert(!drift("id").getAs[Boolean]("drift_flag"))
    // a column vanishing from the after side IS drift
    val drop = Quality.profileDrift(
        Quality.profileAllFrom(before), Quality.profileAllFrom(after.select("id")))
      .collect().map(r => r.getAs[String]("column_name") -> r).toMap
    assert(drop("cat").getAs[Boolean]("drift_flag"))
    // sf: the table profiles cover every column of their tables
    val docs = Quality.columnProfileDocuments(spark, Sf).collect()
    assert(docs.map(_.getAs[String]("column_name")).toSet ==
      Set("doc_id", "text", "lang", "source", "n_chars"))
    val orders = Quality.columnProfileOrders(spark, Sf).collect()
    assert(orders.find(_.getAs[String]("column_name") == "o_orderkey").get
      .getAs[Double]("distinct_ratio") == 1.0)
    // lineitem: 11 columns profiled; l_linenumber's domain is tiny
    val li = Quality.columnProfileLineitem(spark, Sf).collect()
    assert(li.length == 11)
    val ln = li.find(_.getAs[String]("column_name") == "l_linenumber").get
    assert(ln.getAs[Long]("n_distinct") <= 7L && ln.getAs[Long]("n_null") == 0L)
  }

  test("run checks: suggestions trained on clean data catch planted violations; schema drift fails structurally") {
    import spark.implicits._
    def frame(rows: Seq[(java.lang.Long, String, java.lang.Double)]) =
      rows.toDF("event_id", "event_type", "value")
    // clean training table: unique non-null ids, {view,click} domain,
    // values in [1, 4]
    val clean = frame(Seq((1L, "view", 1.0), (2L, "click", 4.0), (3L, "view", 2.0)))
    val sugg = Quality.suggestedChecksFrom(clean)
    // self-run is all-pass by construction
    val self = Quality.runChecks(clean, sugg).collect()
    assert(self.nonEmpty && self.forall(_.getAs[Boolean]("pass")))
    // dirty arrival: null id + dup id, novel event_type, out-of-range
    // values both sides
    val dirty = frame(Seq(
      (null, "view", 1.0), (5L, "view", 2.0), (5L, "refund", 0.5),
      (6L, "click", 9.0), (7L, null, 3.0)))
    val got = Quality.runChecks(dirty, sugg).collect()
      .map(r => (r.getAs[String]("column_name"), r.getAs[String]("check_type")) ->
        ((Option(r.getAs[java.lang.Long]("n_violations")).map(_.toLong),
          r.getAs[Boolean]("pass")))).toMap
    assert(got(("event_id", "not_null")) == ((Some(1L), false)))
    assert(got(("event_id", "unique")) == ((Some(1L), false)))   // 4 non-null, 3 distinct
    assert(got(("event_type", "isin")) == ((Some(1L), false)))   // refund; NULL is not_null's job
    assert(got(("event_type", "not_null")) == ((Some(1L), false)))
    assert(got(("value", "range")) == ((Some(2L), false)))       // 0.5 and 9.0
    // a column the arrival dropped fails every suggested check structurally
    val drifted = Quality.runChecks(dirty.drop("value"), sugg).collect()
      .filter(_.getAs[String]("column_name") == "value")
    assert(drifted.nonEmpty)
    assert(drifted.forall(r => !r.getAs[Boolean]("pass") &&
      r.isNullAt(r.fieldIndex("n_violations"))))
    // sf loop: suggest on the sf events table, run on itself → all pass
    val sfAll = Quality.runChecks(Tables.events(spark, Sf),
      Quality.suggestedChecksFrom(Tables.events(spark, Sf))).collect()
    assert(sfAll.nonEmpty && sfAll.forall(_.getAs[Boolean]("pass")))
    // summary shape feeds the EXISTING check-log machinery end-to-end:
    // clean day PASSes, dirty day FAILs, trend reads both runs
    val log = java.nio.file.Files.createTempDirectory("graft_sclog").toString
    Quality.writeCheckLog(Quality.runChecksSummary(clean, sugg), log, "2024-01-01")
    Quality.writeCheckLog(Quality.runChecksSummary(dirty, sugg), log, "2024-01-02")
    val trend = Quality.trendFromLog(spark, log).collect()
      .map(r => r.getAs[String]("check_name") -> r).toMap
    assert(trend.keySet.contains("suggested_event_id_unique"))
    assert(trend("suggested_event_id_unique").getAs[Long]("days") == 2L)
    val day2 = spark.read.parquet(log)
      .filter(col("run_date") === "2024-01-02").collect()
      .map(r => r.getAs[String]("check_name") -> r.getAs[String]("status")).toMap
    assert(day2("suggested_event_id_not_null") == "FAIL")
    assert(day2("suggested_value_range") == "FAIL")
    // structural failure renders total 0 / failed 1 → FAIL at 0%
    val struct = Quality.runChecksSummary(dirty.drop("value"), sugg)
      .filter(col("check_name") === "suggested_value_range").collect()(0)
    assert(struct.getAs[Long]("total_records") == 0L &&
      struct.getAs[Long]("failed_records") == 1L &&
      struct.getAs[String]("status") == "FAIL")
  }

  test("suggested checks: profile rules emit exactly the constraints the data supports") {
    import spark.implicits._
    // event_id: unique + complete → not_null AND unique
    // user_id: one null → neither
    // event_type: 2-value domain → isin with the sorted set
    // value: observed [1.0, 9.5], duplicated → range but NOT unique
    val e = Seq(
      (1L, Some(1L), "view", 1.0),
      (2L, Some(2L), "click", 9.5),
      (3L, None: Option[Long], "view", 1.0)
    ).toDF("event_id", "user_id", "event_type", "value")
    val got = Quality.suggestedChecksFrom(e).collect()
      .map(r => (r.getAs[String]("column_name"), r.getAs[String]("check_type")) ->
        ((Option(r.getAs[java.lang.Double]("lo")), Option(r.getAs[java.lang.Double]("hi")),
          Option(r.getAs[String]("value_set"))))).toMap
    assert(got.keySet == Set(
      ("event_id", "not_null"), ("event_id", "unique"),
      ("event_type", "not_null"), ("value", "not_null"),
      ("event_type", "isin"), ("value", "range")))
    assert(got(("event_type", "isin"))._3.contains("click,view"))
    assert(got(("value", "range"))._1.map(_.toDouble).contains(1.0))
    assert(got(("value", "range"))._2.map(_.toDouble).contains(9.5))
    // an exploded categorical domain must NOT suggest isin (and the
    // limit caps what the collect can ever materialize)
    val wide = (1 to 50).map(i => (i.toLong, Some(1L), s"t$i", 1.0))
      .toDF("event_id", "user_id", "event_type", "value")
    assert(!Quality.suggestedChecksFrom(wide).collect()
      .exists(_.getAs[String]("check_type") == "isin"))
    // sf: suggestions agree with the hand-written checks' premises —
    // the event_type domain matches dq_sequence_check's funnel world
    val sf = Quality.suggestedChecks(spark, Sf).collect()
    val isin = sf.find(r => r.getAs[String]("check_type") == "isin").get
    val vs = isin.getAs[String]("value_set").split(",").toSet
    assert(Set("view", "purchase").subsetOf(vs), s"got $vs")
  }

  test("suggested checks: an all-null value column suggests no range; its first values read as added") {
    import spark.implicits._
    def frame(rows: Seq[(Long, String, Option[Double])]) =
      rows.toDF("event_id", "event_type", "value")
    val allNull = Quality.suggestedChecksFrom(
      frame(Seq((1L, "view", None), (2L, "click", None))))
    // a [null, null] bound checks nothing: no range row at all
    assert(!allNull.collect().exists(r => r.getAs[String]("column_name") == "value" &&
      r.getAs[String]("check_type") == "range"))
    // pinned on the all-null day, refreshed once values arrive: the
    // new range is a contract change, not 'unchanged'
    val valued = Quality.suggestedChecksFrom(
      frame(Seq((3L, "view", Some(1.5)), (4L, "click", Some(4.0)))))
    val drift = Quality.contractDrift(allNull, valued).collect()
      .map(r => (r.getAs[String]("column_name"), r.getAs[String]("check_type")) -> r)
      .toMap
    assert(drift(("value", "range")).getAs[String]("change") == "added")
    assert(drift(("value", "range")).getAs[Double]("lo_fresh") == 1.5)
  }

  test("per-table suggestions cover the reconcile premises; text flags non-unique; runChecks closes the loop") {
    // lineitem: the reconcile checks' premises must be SUGGESTED from
    // the data alone — non-null join keys and the bounded discount
    val li = Quality.suggestedChecksLineitem(spark, Sf).collect()
      .map(r => (r.getAs[String]("column_name"), r.getAs[String]("check_type")) -> r)
      .toMap
    assert(li.contains(("l_orderkey", "not_null")))
    assert(li.contains(("l_partkey", "not_null")))
    assert(li.contains(("l_suppkey", "not_null")))
    val disc = li(("l_discount", "range"))
    assert(disc.getAs[Double]("lo") >= 0.0 && disc.getAs[Double]("hi") <= 0.1 + 1e-12,
      s"discount bounds must reflect the generated [0, 0.1] domain: $disc")
    // the tiny string domains become isin with the observed sets
    assert(li(("l_returnflag", "isin")).getAs[String]("value_set").split(",").toSet ==
      Tables.lineitem(spark, Sf).select("l_returnflag").distinct()
        .collect().map(_.getString(0)).toSet)
    // documents: doc_id suggests unique, the small lang/source domains
    // suggest isin, and the text column's exploded domain must not
    val docs = Quality.suggestedChecksDocuments(spark, Sf).collect()
      .map(r => (r.getAs[String]("column_name"), r.getAs[String]("check_type")))
      .toSet
    assert(docs.contains(("doc_id", "unique")))
    assert(!docs.contains(("text", "isin")), "an exploded text domain must not isin")
    assert(docs.contains(("lang", "isin")) && docs.contains(("source", "isin")))
    // a re-crawl that plants an exact duplicate text SUPPRESSES the
    // text uniqueness suggestion (the dedup family's premise read from
    // the suggestion side); doc_id stays unique
    locally {
      import spark.implicits._
      val dup = Seq(
        (1L, "alpha beta gamma", "en", "web", 16L),
        (2L, "alpha beta gamma", "en", "web", 16L),
        (3L, "delta epsilon", "en", "web", 13L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val s2 = Quality.suggestedChecksAllFrom(dup).collect()
        .map(r => (r.getAs[String]("column_name"), r.getAs[String]("check_type")))
        .toSet
      assert(!s2.contains(("text", "unique")),
        "a duplicated text must suppress the uniqueness suggestion")
      assert(s2.contains(("doc_id", "unique")))
      assert(s2.contains(("text", "not_null")))
    }
    // a small domain CONTAINING the ',' join delimiter must not emit
    // an isin suggestion (a comma-joined value_set would split into a
    // corrupted allowed-set and false-fail the source table itself);
    // the contract built from that table still all-passes it
    locally {
      import spark.implicits._
      val commas = Seq(
        (1L, "alpha, beta", "en", "acme, inc", 11L),
        (2L, "gamma", "en", "acme, inc", 5L),
        (3L, "delta", "ko", "plain", 5L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val sugg = Quality.suggestedChecksAllFrom(commas)
      val kinds = sugg.collect()
        .map(r => (r.getAs[String]("column_name"), r.getAs[String]("check_type")))
        .toSet
      assert(!kinds.contains(("source", "isin")),
        "a comma-bearing domain must not be encoded as a comma-joined isin set")
      assert(!kinds.contains(("text", "isin")))
      assert(kinds.contains(("lang", "isin")), "clean domains still suggest")
      val self = Quality.runChecks(commas, sugg).collect()
      assert(self.nonEmpty && self.forall(_.getAs[Boolean]("pass")),
        "the contract must all-pass its own source table")
      val (flagged, _) = Quality.contractFlags(commas, sugg)
      assert(flagged.filter(!col("contract_ok")).count() == 0,
        "the streaming mirror must agree: zero violations on the source")
    }
    // the loop CLOSES: lineitem suggestions run green against their
    // own source (all-pass by construction) and catch a violating
    // arrival (a discount outside the observed range)
    val suggestions = Quality.suggestedChecksLineitem(spark, Sf)
    val self = Quality.runChecks(Tables.lineitem(spark, Sf), suggestions).collect()
    assert(self.nonEmpty && self.forall(_.getAs[Boolean]("pass")))
    val bad = Tables.lineitem(spark, Sf).limit(5)
      .withColumn("l_discount", lit(0.75))
    val caught = Quality.runChecks(bad, suggestions).collect()
      .map(r => (r.getAs[String]("column_name"), r.getAs[String]("check_type")) -> r)
      .toMap
    assert(!caught(("l_discount", "range")).getAs[Boolean]("pass"))
    assert(caught(("l_discount", "range")).getAs[Long]("n_violations") == 5L)
  }

  test("fused range suggestions: one aggregate pass, all-null numeric dropped, mixed types exact") {
    // suggestedChecksAllFrom computes every numeric column's
    // [min, max] in ONE fused aggregate (unpivoted via stack) instead
    // of a per-column job each. This spec covers the two edges the
    // fusion must preserve: an ALL-NULL numeric
    // column yields NO range row (the per-column form dropped it via
    // its own filter; the fused form must drop it post-unpivot), and
    // mixed numeric types (int/long/double/decimal) come through the
    // shared double cast with exact observed bounds.
    import spark.implicits._
    val f = Seq(
      (1, 10L, 1.5d, BigDecimal("2.25"), None: Option[Int]),
      (7, -3L, 0.25d, BigDecimal("9.50"), None: Option[Int]))
      .toDF("i", "l", "d", "dec", "all_null")
    val ranges = Quality.suggestedChecksAllFrom(f).collect()
      .filter(_.getAs[String]("check_type") == "range")
      .map(r => r.getAs[String]("column_name") ->
        (r.getAs[Double]("lo"), r.getAs[Double]("hi"))).toMap
    assert(!ranges.contains("all_null"), "an all-null numeric column must emit no range row")
    assert(ranges("i") == (1.0, 7.0))
    assert(ranges("l") == (-3.0, 10.0))
    assert(ranges("d") == (0.25, 1.5))
    assert(ranges("dec") == (2.25, 9.5))
    // plan shape: one scan per profiled column (not_null and unique
    // share the profile) and ONE for the fused range — the per-column
    // range form would add four more, a per-check profile five more
    val scans = Quality.suggestedChecksAllFrom(f).queryExecution.executedPlan
      .toString.split('\n').count(_.contains("LocalTableScan"))
    assert(scans <= 6, s"profile or range fusion regressed: $scans local scans in plan")
  }

  test("suggestion contract: persists, verifies, gates a drifted arrival; tampering refuses to load") {
    val path = java.nio.file.Files.createTempDirectory("graft_sugg").toString + "/contract"
    val suggestions = Quality.suggestedChecksLineitem(spark, Sf)
    Quality.writeSuggestions(suggestions, path, builtFrom = s"lineitem@$Sf")
    // loads verified; self-gate is all-PASS in summary shape
    val self = Quality.suggestionGate(Tables.lineitem(spark, Sf), path).collect()
    assert(self.nonEmpty && self.forall(_.getAs[String]("status") == "PASS"))
    // a drifted arrival (discount beyond the contract's bound AND a
    // vanished column) FAILs through the same summary surface
    val drifted = Tables.lineitem(spark, Sf).limit(10)
      .withColumn("l_discount", lit(0.9)).drop("l_returnflag")
    val gated = Quality.suggestionGate(drifted, path).collect()
      .map(r => r.getAs[String]("check_name") -> r.getAs[String]("status")).toMap
    assert(gated("suggested_l_discount_range") == "FAIL")
    assert(gated("suggested_l_returnflag_isin") == "FAIL",
      "a vanished column must fail structurally")
    // tampering: replace the parquet under the ORIGINAL stamp → the
    // loader refuses (content fingerprint mismatch)
    val stamp = graft.sources.ArtifactManifest.read(path).get
    Quality.suggestedChecksDocuments(spark, Sf)
      .coalesce(1).write.mode("overwrite").parquet(path)
    graft.sources.ArtifactManifest.write(path, stamp)
    intercept[IllegalStateException] {
      Quality.loadSuggestions(spark, path)
    }
  }

  test("suggestion contract: a range row with a null bound refuses to load and to gate") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_nullbound").toString + "/contract"
    val contract = Seq[(String, String, Option[Double], Option[Double], String)](
        ("value", "not_null", None, None, null),
        ("value", "range", None, Some(10.0), null))
      .toDF("column_name", "check_type", "lo", "hi", "value_set")
    Quality.writeSuggestions(contract, path, builtFrom = "pinned-before-any-value")
    val load = intercept[IllegalStateException](Quality.loadSuggestions(spark, path))
    assert(load.getMessage.contains("range check on value") &&
      load.getMessage.contains("re-pin"), load.getMessage)
    intercept[IllegalStateException] {
      Quality.suggestionGate(Seq(1.5, 20.0).toDF("value"), path).collect()
    }
  }

  test("suggestion frame: a hand-built range row with a null bound refuses to gate and to flag") {
    import spark.implicits._
    val target = Seq(-3.0, 1.5, 20.0).toDF("value")
    for (hi <- Seq(Some(10.0), None)) {
      val frame = Seq[(String, String, Option[Double], Option[Double], String)](
          ("value", "range", None, hi, null))
        .toDF("column_name", "check_type", "lo", "hi", "value_set")
      for (entry <- Seq[() => Any](
          () => Quality.runChecks(target, frame).collect(),
          () => Quality.contractFlags(target, frame)._1.collect())) {
        val e = intercept[IllegalStateException](entry())
        assert(e.getMessage.contains("range check on value") && e.getMessage.contains("re-pin"),
          e.getMessage)
      }
    }
  }

  test("contract drift: a widening range surfaces BEFORE any check fails; gate stays pinned until promoted") {
    import spark.implicits._
    def frame(rows: Seq[(Long, Option[Long], String, Double)]) =
      rows.toDF("event_id", "user_id", "event_type", "value")
    // pinned contract observed on a wide known-healthy baseline
    val baseline = frame(Seq(
      (1L, Some(1L), "view", 0.0), (2L, Some(2L), "click", 100.0),
      (3L, Some(3L), "purchase", 50.0)))
    val path = java.nio.file.Files
      .createTempDirectory("graft_drift").toString + "/contract"
    val pinned = Quality.suggestedChecksFrom(baseline)
    Quality.writeSuggestions(pinned, path, builtFrom = "baseline")
    // two later runs, BOTH healthy against the pinned gate, whose own
    // observed range widens run over run: [10,60] → [5,80]
    val run1 = frame(Seq(
      (10L, Some(1L), "view", 10.0), (11L, Some(2L), "click", 60.0)))
    val run2 = frame(Seq(
      (20L, Some(1L), "view", 5.0), (21L, Some(2L), "click", 80.0),
      (22L, Some(3L), "purchase", 40.0)))
    for (r <- Seq(run1, run2))
      assert(Quality.suggestionGate(r, path).collect()
        .forall(_.getAs[String]("status") == "PASS"),
        "both runs must be healthy vs the pinned contract")
    // the drift between the two healthy runs' refreshed contracts
    // reads 'widened' — the trend the gate alone can never show
    val d12 = Quality.contractDrift(
      Quality.suggestedChecksFrom(run1), Quality.suggestedChecksFrom(run2))
      .collect()
      .map(r => (r.getAs[String]("column_name"), r.getAs[String]("check_type"))
        -> r).toMap
    assert(d12(("value", "range")).getAs[String]("change") == "widened")
    assert(d12(("value", "range")).getAs[Boolean]("drift"))
    // the new event_type grows the isin domain with the exact value
    assert(d12(("event_type", "isin")).getAs[String]("change") == "domain_grew")
    assert(d12(("event_type", "isin")).getAs[String]("set_added") == "purchase")
    assert(d12(("event_id", "not_null")).getAs[String]("change") == "unchanged")
    // vs the pinned baseline, run2's range sits strictly inside
    val dp = Quality.contractDrift(pinned, Quality.suggestedChecksFrom(run2))
      .collect()
      .map(r => (r.getAs[String]("column_name"), r.getAs[String]("check_type"))
        -> r).toMap
    assert(dp(("value", "range")).getAs[String]("change") == "narrowed")
    // a vanished suggestion reads 'removed' (a null user_id arrived)
    val run3 = frame(Seq((30L, None, "view", 20.0), (31L, Some(2L), "click", 30.0)))
    val d23 = Quality.contractDrift(
      Quality.suggestedChecksFrom(run2), Quality.suggestedChecksFrom(run3))
      .collect()
      .map(r => (r.getAs[String]("column_name"), r.getAs[String]("check_type"))
        -> r).toMap
    assert(d23(("user_id", "not_null")).getAs[String]("change") == "removed")
    // both bounds moving the same direction reads 'shifted'
    val run4 = frame(Seq((40L, Some(1L), "view", 1.0), (41L, Some(2L), "click", 55.0)))
    val d14 = Quality.contractDrift(
      Quality.suggestedChecksFrom(run1), Quality.suggestedChecksFrom(run4))
      .collect()
      .map(r => (r.getAs[String]("column_name"), r.getAs[String]("check_type"))
        -> r).toMap
    assert(d14(("value", "range")).getAs[String]("change") == "shifted")
    // the gate enforces the PINNED bounds throughout: an arrival past
    // the baseline max still fails even though every refresh happened
    val bad = frame(Seq((50L, Some(1L), "view", 101.0)))
    assert(Quality.suggestionGate(bad, path).collect()
      .exists(r => r.getAs[String]("check_name") == "suggested_value_range" &&
        r.getAs[String]("status") == "FAIL"))
    // promotion is the explicit act, and it records lineage
    val oldFp = graft.sources.ArtifactManifest.read(path).get.contentFp
    Quality.promoteSuggestions(Quality.suggestedChecksFrom(run2), path,
      builtFrom = "run2")
    val stamp = graft.sources.ArtifactManifest.read(path).get
    assert(stamp.builtFrom == s"refreshed-from:$oldFp;run2")
    val promoted = Quality.loadSuggestions(spark, path).collect()
      .map(r => (r.getAs[String]("column_name"), r.getAs[String]("check_type"))
        -> r).toMap
    assert(promoted(("value", "range")).getAs[Double]("lo") == 5.0)
    assert(promoted(("value", "range")).getAs[Double]("hi") == 80.0)
    // registry form runs at sf: pinned = pre-max-date events, fresh =
    // full frame; rows exist for every suggestion with a change label
    val reg = Quality.contractDriftEvents(spark, Sf).collect()
    assert(reg.nonEmpty)
    assert(reg.forall(r => Set("added", "removed", "widened", "narrowed",
      "shifted", "domain_grew", "domain_shrank", "domain_changed",
      "unchanged")(r.getAs[String]("change"))))
  }

  test("id gaps: in-bucket holes count distinct-exact; contiguous buckets drop; top-k orders") {
    import spark.implicits._
    // bucket 0: ids 1,2,3,5 (+ dup 3) → span 5, present 4, missing 1
    // bucket 1: 10001,10002 contiguous → no gap row
    // bucket 2: 20000 + 20009 → missing 8 (ranks first)
    val e = Seq(1L, 2L, 3L, 3L, 5L, 10001L, 10002L, 20000L, 20009L)
      .toDF("event_id")
    val got = Quality.idGapsFrom(e).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("first_id"),
        r.getAs[Long]("last_id"), r.getAs[Long]("n_present"),
        r.getAs[Long]("n_missing"))).toSeq
    assert(got == Seq((2L, 20000L, 20009L, 2L, 8L), (0L, 1L, 5L, 4L, 1L)))
    // sf: every surfaced bucket genuinely misses ids
    val sf = Quality.idGaps(spark, Sf).collect()
    assert(sf.forall(_.getAs[Long]("n_missing") > 0))
  }

}

package graft

import graft.queries.{EntityQueries, EventQueries, GraphQueries, ProfileQueries}

/** q106–q109 invariants the oracle hash can't express: profile-metric
  * laws, SCD2 interval algebra, a brute-force triangle recount, and the
  * exact-moment correlation against a direct double computation. */
class ProfileSpec extends SparkSpec {

  test("q106 profile: metric laws hold on generated orders") {
    val rows = ProfileQueries.q106.build(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(rows.size == 18)
    val n = rows(("_table", "rows"))
    assert(n > 0)
    // ratios are fractions of the row count
    for (((c, m), v) <- rows if Set("completeness", "distinctness", "conformance")(m))
      assert(v >= 0.0 && v <= 1.0, s"$c/$m out of [0,1]: $v")
    // generated data has no nulls
    assert(rows(("o_custkey", "completeness")) == 1.0)
    assert(rows(("o_orderdate", "completeness")) == 1.0)
    // bounds are ordered; mean sits inside them
    assert(rows(("o_custkey", "min")) <= rows(("o_custkey", "max")))
    assert(rows(("o_totalprice", "min")) <= rows(("o_totalprice", "mean")))
    assert(rows(("o_totalprice", "mean")) <= rows(("o_totalprice", "max")))
    assert(rows(("o_orderdate", "min_epoch")) <= rows(("o_orderdate", "max_epoch")))
    // status has few domain values: distinctness ≤ 3/n
    assert(rows(("o_orderstatus", "distinctness")) <= 3.0 / n + 1e-12)
  }

  test("q107 scd2: versions are contiguous, intervals chain, one current row per user") {
    val rows = EventQueries.q107.build(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_.getLong(0))
    byUser.foreach { case (u, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to rs.length),
        s"user $u versions not contiguous")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // interval chain: valid_to of v == valid_from of v+1
          assert(!a.isNullAt(4) && a.getLong(4) == b.getLong(3),
            s"user $u: interval break at version ${a.getInt(1)}")
          // a version only opens when the attribute actually changed
          assert(a.getString(2) != b.getString(2),
            s"user $u: consecutive versions share attr ${a.getString(2)}")
        case _ => ()
      }
      // exactly the last version is current (null valid_to)
      assert(sorted.count(_.getInt(5) == 1) == 1)
      assert(sorted.last.getInt(5) == 1 && sorted.last.isNullAt(4))
    }
  }

  test("q108 triangles: degree-oriented count equals a brute-force recount") {
    val row = GraphQueries.q108.build(spark, sf0001).collect().head
    val n = 2000L
    val edges = (0L until n).flatMap { v =>
      Seq((v, (v * 31 + 7) % n), (v, (v * 97 + 3) % n), (v, (v * 233 + 11) % n))
    }.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val tri = edges.map { case (a, b) =>
      (adj(a) & adj(b)).count(c => c > b) // a<b<c once per triangle
    }.sum
    val wedges = adj.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    assert(row.getLong(0) == edges.length.toLong, "edge count")
    assert(row.getLong(1) == wedges, "wedge count")
    assert(row.getLong(2) == tri.toLong, s"triangle count: got ${row.getLong(2)}, want $tri")
    assert(row.getLong(3) == 3000000L * tri / wedges, "closure ppm")
  }

  test("q110 as-of join is total: every event attributed to exactly one state") {
    val rows = EventQueries.q110.build(spark, sf0001).collect()
    val events = spark.read.parquet(s"$sf0001/events.parquet")
    assert(rows.map(_.getLong(2)).sum == events.count())
    // value mass is conserved through the attribution (exact cents)
    val cents = events.collect()
      .map(r => math.round(r.getDouble(r.fieldIndex("value")) * 100)).sum
    val attributed = rows.map(r => math.round(r.getDouble(3) * 100)).sum
    assert(attributed == cents)
  }

  test("q111 fuzzy match: pairs canonical, distances exact, blocking complete") {
    val rows = EntityQueries.q111.build(spark, sf0001).collect()
    assert(rows.nonEmpty)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    rows.foreach { r =>
      val (a, b, dist) = (r.getString(0), r.getString(1), r.getInt(2))
      assert(a < b, "pair not canonical")
      assert(dist == lev(a, b), s"distance wrong for ($a,$b)")
      assert(dist <= 3)
      assert(a.split(" ").last == b.split(" ").last, "pair crosses a block")
    }
    // completeness inside the blocking scheme: brute-force over the vocab
    val vocab = spark.read.parquet(s"$sf0001/part.parquet")
      .select("p_name").distinct().collect().map(_.getString(0))
    val expected = (for {
      a <- vocab; b <- vocab
      if a < b && a.split(" ").last == b.split(" ").last && lev(a, b) <= 3
    } yield (a, b)).toSet
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet == expected)
  }

  test("q112 gap fill: grid spans are dense and LOCF mass is conserved per law") {
    val rows = EventQueries.q112.build(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nHours, nObs, nGap) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nObs >= 1 && nObs + nGap == nHours, "grid accounting")
      // LOCF mass >= observed mass would only hold if values were
      // non-negative per hour; instead pin the structural law: the fill
      // is total (sum is never null => getDouble doesn't throw)
      assert(!r.isNullAt(4))
    }
    // cross-check one user brute-force in the driver
    val ev = spark.read.parquet(s"$sf0001/events.parquet").collect()
      .map { r =>
        val tsIdx = r.fieldIndex("ts")
        val es = r.get(tsIdx) match {
          case t: java.time.LocalDateTime => t.toEpochSecond(java.time.ZoneOffset.UTC)
          case t: java.sql.Timestamp      => t.getTime / 1000
          case l: Long                    => l / 1000000000L
        }
        (r.getLong(r.fieldIndex("user_id")), es / 3600,
          math.round(r.getDouble(r.fieldIndex("value")) * 100))
      }
    val u0 = ev.filter(_._1 == ev.head._1)
    val hourly = u0.groupBy(_._2).map { case (h, xs) => h -> xs.map(_._3).sum }
    val (h0, h1) = (hourly.keys.min, hourly.keys.max)
    var lastCent = 0L; var locf = 0L
    for (h <- h0 to h1) { lastCent = hourly.getOrElse(h, lastCent); locf += lastCent }
    val row = rows.find(_.getLong(0) == u0.head._1).get
    assert(row.getLong(1) == h1 - h0 + 1)
    assert(row.getLong(2) == hourly.size.toLong)
    assert(math.round(row.getDouble(4) * 100) == locf, "LOCF mass")
  }

  test("q113 attribution conserves purchase value to the cent") {
    val rows = EventQueries.q113.build(spark, sf0001).collect()
    val purchases = spark.read.parquet(s"$sf0001/events.parquet").collect()
      .filter(_.getString(3) == "purchase")
    val purchaseCents = purchases
      .map(r => math.round(r.getDouble(r.fieldIndex("value")) * 100)).sum
    val attributedCents =
      rows.map(r => math.round(r.getDouble(2) * 100)).sum
    assert(attributedCents == purchaseCents, "value mass not conserved")
    // every channel is a touch type or the unattributed bucket
    assert(rows.map(_.getString(0)).toSet
      .subsetOf(Set("view", "click", "(unattributed)")))
    // each purchase produced either its touch allocations or one
    // unattributed row — allocation count >= purchase count
    assert(rows.map(_.getLong(1)).sum >= purchases.length.toLong)
  }

  test("q114 cusum: scaled statistic matches a driver-side recount for every user") {
    val rows = EventQueries.q114.build(spark, sf0001).collect()
    val ev = spark.read.parquet(s"$sf0001/events.parquet").collect()
      .map { r =>
        val es = r.get(r.fieldIndex("ts")) match {
          case t: java.time.LocalDateTime => t.toEpochSecond(java.time.ZoneOffset.UTC)
          case t: java.sql.Timestamp      => t.getTime / 1000
          case l: Long                    => l / 1000000000L
        }
        (r.getLong(r.fieldIndex("user_id")), es,
          r.getLong(r.fieldIndex("event_id")),
          math.round(r.getDouble(r.fieldIndex("value")) * 100))
      }
    assert(rows.length == ev.map(_._1).distinct.length)
    rows.foreach { r =>
      val series = ev.filter(_._1 == r.getLong(0)).sortBy(t => (t._2, t._3))
      val n = series.length.toLong
      val tot = series.map(_._4).sum
      var pre = 0L
      val stats = series.zipWithIndex.map { case (t, idx) =>
        pre += t._4; math.abs(n * pre - (idx + 1) * tot)
      }
      assert(r.getLong(1) == n)
      assert(r.getLong(2) == stats.max, s"user ${r.getLong(0)} max stat")
      assert(r.getInt(3).toLong == stats.indexOf(stats.max) + 1L, "arg_i tie rule")
    }
  }

  test("q124 referential integrity: healthy data reports zero orphans; a planted orphan is caught") {
    import graft.queries.ProfileQueries
    val report = ProfileQueries.q124.build(spark, sf0001).collect()
    assert(report.length == 5)
    report.foreach { r =>
      assert(r.getLong(3) == 0, s"${r.getString(0)} orphans on clean data")
      assert(r.getLong(2) <= r.getLong(1), "distinct fk <= child rows")
    }
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    assert(report.find(_.getString(0).startsWith("lineitem.l_orderkey")).get
      .getLong(1) == li.count())
    // plant two orphans: child rows pointing at a missing parent key
    import spark.implicits._
    val child = Seq((1L, 10L), (2L, 11L), (3L, 999L), (4L, 999L))
      .toDF("id", "fk")
    val parent = Seq(10L, 11L).toDF("pk")
    val bad = ProfileQueries.refCheck("planted", child, "fk", parent, "pk")
      .collect().head
    assert(bad.getLong(1) == 4 && bad.getLong(2) == 3 && bad.getLong(3) == 2)
  }

  test("q125 entity clusters: transitive, canonical is min alias, totals conserved") {
    val rows = EntityQueries.q125.build(spark, sf0001).collect()
    val vocab = spark.read.parquet(s"$sf0001/part.parquet")
      .select("p_name").distinct().collect().map(_.getString(0))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // driver-side union-find over the same blocked edge set
    val parent = scala.collection.mutable.Map(vocab.map(v => v -> v): _*)
    def find(v: String): String =
      if (parent(v) == v) v else { parent(v) = find(parent(v)); parent(v) }
    for {
      a <- vocab; b <- vocab
      if a < b && a.split(" ").last == b.split(" ").last && lev(a, b) <= 2
    } {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(if (ra < rb) rb else ra) = if (ra < rb) ra else rb
    }
    val want = vocab.groupBy(find).map { case (_, as) =>
      as.min -> as.length.toLong
    }
    assert(rows.map(r => r.getString(0) -> r.getLong(1)).toMap == want)
    // every catalog row resolves to exactly one entity
    val total = spark.read.parquet(s"$sf0001/part.parquet").count()
    assert(rows.map(_.getLong(2)).sum == total)
  }

  test("q125 name shape: a non-two-token part name fails loudly at the site") {
    import spark.implicits._
    val ok = Seq("red box", "red box", "blue box").toDF("p_name")
    assert(EntityQueries.partNames(ok).sorted.toSeq == Seq("blue box", "red box"))
    Seq("big red box", "red box ").foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        EntityQueries.partNames(Seq("red box", bad).toDF("p_name"))
      }
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("q126 pareto: frontier is non-dominated and dominates every other point") {
    val frontier = graft.queries.RelationalQueries.q126
      .build(spark, sf0001).collect()
      .map(r => (math.round(r.getDouble(0) * 100), r.getLong(1)))
    val pts = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_extendedprice", "l_quantity").collect()
      .map(r => (math.round(r.getDouble(0) * 100), math.round(r.getDouble(1))))
      .distinct
    def dominates(a: (Long, Long), b: (Long, Long)): Boolean =
      a._1 <= b._1 && a._2 >= b._2 && a != b
    val fset = frontier.toSet
    // no frontier point is dominated by ANY point
    frontier.foreach(f =>
      assert(!pts.exists(p => dominates(p, f)), s"frontier point $f dominated"))
    // every non-frontier point is dominated by some frontier point
    pts.filterNot(fset).foreach(p =>
      assert(frontier.exists(f => dominates(f, p)), s"$p missing from frontier"))
  }

  test("q130 attribution models: all three conserve the same attributed mass") {
    val rows = EventQueries.q130.build(spark, sf0001).collect()
    assert(rows.nonEmpty)
    def total(i: Int) = rows.map(r => math.round(r.getDouble(i) * 100)).sum
    assert(total(1) == total(2) && total(2) == total(3),
      "models attribute different totals")
    // the conserved mass is exactly the cents of purchases with >=1 touch
    val ev = spark.read.parquet(s"$sf0001/events.parquet").collect().map { r =>
      val es = r.get(r.fieldIndex("ts")) match {
        case t: java.time.LocalDateTime => t.toEpochSecond(java.time.ZoneOffset.UTC)
        case t: java.sql.Timestamp      => t.getTime / 1000
        case l: Long                    => l / 1000000000L
      }
      (r.getLong(r.fieldIndex("user_id")), es,
        r.getString(r.fieldIndex("event_type")),
        math.round(r.getDouble(r.fieldIndex("value")) * 100))
    }
    val touches = ev.filter(t => t._3 == "view" || t._3 == "click")
    val attributable = ev.filter(_._3 == "purchase").filter { p =>
      touches.exists(t => t._1 == p._1 && t._2 >= p._2 - 604800 && t._2 < p._2)
    }.map(_._4).sum
    assert(total(3) == attributable, "linear total != attributable purchases")
  }

  test("q132 growth accounting: both conservation laws hold on every day") {
    val rows = EventQueries.q132.build(spark, sf0001).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.nonEmpty)
    val ud = spark.read.parquet(s"$sf0001/events.parquet").collect().map { r =>
      val es = r.get(r.fieldIndex("ts")) match {
        case t: java.time.LocalDateTime => t.toEpochSecond(java.time.ZoneOffset.UTC)
        case t: java.sql.Timestamp      => t.getTime / 1000
        case l: Long                    => l / 1000000000L
      }
      (r.getLong(r.fieldIndex("user_id")), es / 86400)
    }.distinct
    val dau = ud.groupBy(_._2).map { case (d, xs) => d -> xs.length.toLong }
    // law 1: new + retained + resurrected == DAU
    rows.foreach { case (d, (nw, ret, res, _)) =>
      assert(nw + ret + res == dau(d), s"day $d DAU partition")
    }
    // law 2: retained(d) == DAU(d-1) - churned(d)
    rows.foreach { case (d, (_, ret, _, churned)) =>
      val prev = dau.getOrElse(d - 1, 0L)
      assert(ret == prev - churned, s"day $d retention/churn duality")
    }
    // every user is new exactly once
    assert(rows.values.map(_._1).sum == ud.map(_._1).distinct.length.toLong)
  }

  test("q133 time-to-convert: percentiles match a driver-side nearest-rank recount") {
    val rows = EventQueries.q133.build(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val ev = spark.read.parquet(s"$sf0001/events.parquet").collect().map { r =>
      val es = r.get(r.fieldIndex("ts")) match {
        case t: java.time.LocalDateTime => t.toEpochSecond(java.time.ZoneOffset.UTC)
        case t: java.sql.Timestamp      => t.getTime / 1000
        case l: Long                    => l / 1000000000L
      }
      (r.getLong(r.fieldIndex("user_id")),
        r.getString(r.fieldIndex("event_type")), es)
    }
    val signup = ev.filter(_._2 == "signup").groupBy(_._1)
      .map { case (u, xs) => u -> xs.map(_._3).min }
    val purchase = ev.filter(_._2 == "purchase").groupBy(_._1)
      .map { case (u, xs) => u -> xs.map(_._3).min }
    val lags = signup.toSeq.flatMap { case (u, s0) =>
      purchase.get(u).filter(_ >= s0)
        .map(p => (s0 / 604800, (p - s0) / 3600))
    }.groupBy(_._1)
    rows.foreach { r =>
      val sorted = lags(r.getLong(0)).map(_._2).toSeq.sorted
      val n = sorted.length
      assert(r.getLong(1) == n.toLong)
      def nearestRank(p: Double): Long = sorted(math.ceil(p * n).toInt - 1)
      assert(r.getLong(2) == nearestRank(0.5), s"cohort ${r.getLong(0)} p50")
      assert(r.getLong(3) == nearestRank(0.9), s"cohort ${r.getLong(0)} p90")
    }
  }

  test("q109 regression: exact-moment corr matches a direct computation") {
    val rows = ProfileQueries.q109.build(spark, sf0001).collect()
    assert(rows.map(_.getString(0)).toSeq == rows.map(_.getString(0)).toSeq.sorted)
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_returnflag", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1)).toDouble,
        math.round(r.getDouble(2) * 100).toDouble))
    assert(rows.map(_.getLong(1)).sum == li.length.toLong)
    rows.foreach { r =>
      val g = li.filter(_._1 == r.getString(0))
      val n = g.length.toDouble
      val (sx, sy) = (g.map(_._2).sum, g.map(_._3).sum)
      val sxy = g.map(t => t._2 * t._3).sum
      val sxx = g.map(t => t._2 * t._2).sum
      val syy = g.map(t => t._3 * t._3).sum
      val corr = (n * sxy - sx * sy) /
        (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
      assert(math.abs(r.getDouble(2) - corr) < 1e-9, s"corr ${r.getString(0)}")
      assert(r.getDouble(2) >= -1.0 && r.getDouble(2) <= 1.0)
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      assert(math.abs(r.getDouble(3) - slope) < math.abs(slope) * 1e-9 + 1e-9)
    }
  }
}

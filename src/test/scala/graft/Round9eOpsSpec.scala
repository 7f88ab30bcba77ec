package graft

import org.apache.spark.sql.functions._

/** Seventh-wave round-9 operators, each pinned against an independent
  * Scala mirror on the sf0.001 corpus (the oracle gate grades the same
  * keys against DuckDB; these mirrors are a third implementation so the
  * two engine sides can't share a bug). */
class Round9eOpsSpec extends SparkSpec {

  private def s6(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
  private def s2(x: Double): Long = math.floor(x * 100 + 0.5).toLong
  private def s0(x: Double): Long = math.floor(x + 0.5).toLong

  /** (returnflag, linestatus, quantity, extendedprice). */
  private lazy val li: Seq[(String, String, Double, Double)] =
    Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
        col("l_extendedprice"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3)))

  /** (doc_id, text, lang). */
  private lazy val docs: Seq[(Long, String, String)] =
    Tables.documents(spark, sfDir).select(col("doc_id"), col("text"), col("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))

  /** (user_id, event_id, epoch_s, value, event_type). */
  private lazy val events: Seq[(Long, Long, Long, Double, String)] =
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("t"),
        col("value"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getString(4)))

  test("agg_cramers_v: V matches the contingency mirror and sits in [0,1]") {
    val row = SparkEntry.queries("agg_cramers_v")(spark, sfDir).collect().head
    val cells = li.groupBy(r => (r._1, r._2)).map { case (k, v) => k -> v.size.toLong }
    val rt = cells.groupBy(_._1._1).map { case (f, m) => f -> m.values.sum }
    val ct = cells.groupBy(_._1._2).map { case (st, m) => st -> m.values.sum }
    val n = cells.values.sum
    val chi26 = cells.map { case ((f, st), c) =>
      val e = rt(f).toDouble * ct(st).toDouble / n.toDouble
      s6((c - e) * (c - e) / e)
    }.sum
    val mdof = math.min(rt.size - 1, ct.size - 1).toLong
    assert(row.getLong(0) == n && row.getLong(1) == mdof)
    assert(row.getLong(2) == chi26, "chi2_6")
    val v6 = s6(math.sqrt(chi26.toDouble / 1e6 / n / mdof))
    assert(row.getLong(3) == v6, "v6")
    assert(row.getLong(3) >= 0 && row.getLong(3) <= 1000000)
  }

  test("agg_cohens_d: d and Hedges g match the pooled-moment mirror") {
    val got = SparkEntry.queries("agg_cohens_d")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    val byStatus = li.filter(r => r._1 == "A" || r._1 == "R").groupBy(_._2)
    byStatus.foreach { case (st, rows) =>
      val xa = rows.filter(_._1 == "A").map(r => s0(r._3))
      val xr = rows.filter(_._1 == "R").map(r => s0(r._3))
      val (na, nr) = (xa.size.toLong, xr.size.toLong)
      val (sa, sr) = (xa.sum, xr.sum)
      val (saa, srr) = (xa.map(x => x * x).sum, xr.map(x => x * x).sum)
      val m1 = sa.toDouble / na; val m2 = sr.toDouble / nr
      val v1 = (saa - sa.toDouble * sa / na) / (na - 1.0)
      val v2 = (srr - sr.toDouble * sr / nr) / (nr - 1.0)
      val df = na + nr - 2.0
      val d = (m1 - m2) / math.sqrt(((na - 1.0) * v1 + (nr - 1.0) * v2) / df)
      val j = 1.0 - 3.0 / (4.0 * df - 1.0)
      val (gna, gnr, d6, g6) = got(st)
      assert(gna == na && gnr == nr, s"$st counts")
      assert(d6 == s6(d), s"$st d6")
      assert(g6 == s6(j * d), s"$st g6")
      // |g| < |d|: the small-sample correction always shrinks
      assert(math.abs(g6) <= math.abs(d6), s"$st shrinkage")
    }
  }

  test("agg_pca2: closed-form eigenpair matches the moment mirror") {
    val got = SparkEntry.queries("agg_pca2")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    li.groupBy(_._1).foreach { case (f, rows) =>
      val xs = rows.map(r => s0(r._3)); val ys = rows.map(r => s0(r._4))
      val n = rows.size.toLong
      val (sx, sy) = (xs.sum, ys.sum)
      val sxx = xs.map(x => x * x).sum
      val syy = ys.map(y => y * y).sum
      val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
      val nD = n.toDouble
      val a = (nD * sxx - sx.toDouble * sx) / (nD * (nD - 1.0))
      val b = (nD * sxy - sx.toDouble * sy) / (nD * (nD - 1.0))
      val c = (nD * syy - sy.toDouble * sy) / (nD * (nD - 1.0))
      val h = (a - c) / 2.0
      val disc = math.sqrt(h * h + b * b)
      val lam1 = (a + c) / 2.0 + disc
      val (gn, lam16, evr6, align6) = got(f)
      assert(gn == n, s"$f n")
      assert(lam16 == s6(lam1), s"$f lam1")
      assert(evr6 == s6(lam1 / (a + c)), s"$f evr")
      assert(align6 == s6(h / disc), s"$f align")
      // λ1 is the LARGER eigenvalue: explained ratio in [1/2, 1]
      assert(evr6 >= 500000 && evr6 <= 1000000, s"$f evr range")
    }
  }

  test("win_markov: transition rows match the per-user lag mirror; rows sum to 1") {
    val got = SparkEntry.queries("win_markov")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    val pairs = events.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val ordered = rows.sortBy(e => (e._3, e._2)).map(_._5)
      ordered.zip(ordered.drop(1))
    }
    val counts = pairs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val totals = counts.groupBy(_._1._1).map { case (p, m) => p -> m.values.sum }
    assert(got.keySet == counts.keySet, "pair domain")
    counts.foreach { case ((p, c), n) =>
      val (gn, gp6) = got((p, c))
      assert(gn == n, s"$p->$c count")
      assert(gp6 == s6(n.toDouble / totals(p)), s"$p->$c prob")
    }
    // each row of the transition matrix sums to ~1 on the s6 grid
    got.toSeq.groupBy(_._1._1).foreach { case (p, rows) =>
      val tot = rows.map(_._2._2).sum
      assert(math.abs(tot - 1000000L) <= rows.size, s"$p row sum")
    }
  }

  test("win_sma_cross: signals match the integer crossover mirror") {
    val got = SparkEntry.queries("win_sma_cross")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val expect = scala.collection.mutable.Map[(Long, Long), Int]()
    events.groupBy(_._1).foreach { case (u, rows) =>
      val daily = rows.groupBy(_._3 / 86400).toSeq
        .map { case (day, es) => (day, es.map(e => s2(e._4)).sum) }
        .sortBy(_._1)
      val sides = daily.indices.map { i =>
        val f3 = daily.slice(math.max(0, i - 2), i + 1).map(_._2).sum
        val s7win = daily.slice(math.max(0, i - 6), i + 1)
        val s7 = s7win.map(_._2).sum
        val side = if (7 * f3 > 3 * s7) 1 else if (7 * f3 < 3 * s7) -1 else 0
        (daily(i)._1, side, s7win.size)
      }
      sides.zip(sides.drop(1)).foreach { case ((_, ps, pn), (day, s, n)) =>
        if (n == 7 && pn == 7 && s != ps && s != 0) expect((u, day)) = s
      }
    }
    assert(got == expect.toMap, "signal set")
  }

  test("graph_sssp: converged at K rounds and bounded by hop distance") {
    def toMapL(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap
    val atK = toMapL(operators.Graph.ssspDistances(spark, sfDir, 10).collect())
    val atK1 = toMapL(operators.Graph.ssspDistances(spark, sfDir, 11).collect())
    assert(atK == atK1, "fixpoint not reached at SsspRounds")
    assert(atK(0L) == 0L, "source distance")
    // costs are >= 1 per edge, so any reachable node sits above its
    // hop count; the graded key returns the same map
    val graded = toMapL(SparkEntry.queries("graph_sssp")(spark, sfDir).collect())
    assert(graded == atK, "graded key vs helper")
  }

  test("dq_referential: clean corpus has zero orphans; counts match") {
    val got = SparkEntry.queries("dq_referential")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.size == 8)
    // FK edges of a TPC-H-shaped corpus are clean by construction
    Seq("customer->nation", "lineitem->orders", "lineitem->part",
      "lineitem->supplier", "orders->customer", "supplier->nation")
      .foreach(rel => assert(got(rel)._2 == 0L, s"$rel orphans"))
    // childless counts match direct anti-join mirrors
    val custKeys = Tables.customer(spark, sfDir).select("c_custkey")
      .collect().map(_.getLong(0)).toSet
    val orderCust = Tables.orders(spark, sfDir).select("o_custkey")
      .collect().map(_.getLong(0)).toSet
    assert(got("childless_customer")._2 == (custKeys -- orderCust).size.toLong)
    assert(got("childless_customer")._1 == custKeys.size.toLong)
  }

  test("llm_jsd_drift: pair values match the distribution mirror; bounded by ln2") {
    val got = SparkEntry.queries("llm_jsd_drift")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    val bySource = Tables.documents(spark, sfDir)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1)
      .map { case (src, rows) =>
        val toks = rows.flatMap(_._2.split(" ", -1))
        src -> (toks.groupBy(identity).map { case (t, v) => t -> v.size.toLong }, toks.size.toLong)
      }
    val sources = bySource.keys.toSeq.sorted
    assert(got.size == sources.size * (sources.size - 1) / 2, "pair count")
    for (a <- sources; b <- sources if a < b) {
      val (ca, na) = bySource(a); val (cb, nb) = bySource(b)
      val common = ca.keySet.intersect(cb.keySet)
      val inter6 = common.toSeq.map { t =>
        val p = ca(t).toDouble / na; val q = cb(t).toDouble / nb
        val u = ca(t) * nb; val v = cb(t) * na
        s6(0.5 * (p * Det.lnRatioD(2 * u, u + v) + q * Det.lnRatioD(2 * v, u + v)))
      }.sum
      val ia = common.toSeq.map(ca).sum; val ib = common.toSeq.map(cb).sum
      val ln2 = 0.6931471805599453
      val expect = inter6 + s6(0.5 * ln2 * ((na - ia).toDouble / na)) +
        s6(0.5 * ln2 * ((nb - ib).toDouble / nb))
      val (gn, gj) = got((a, b))
      assert(gn == common.size.toLong, s"$a/$b common")
      assert(gj == expect, s"$a/$b jsd")
      assert(gj >= -2 && gj <= 693148, s"$a/$b in [0, ln2]")
    }
  }

  test("win_decompose: trend/seasonal/residual reassemble 7x the series") {
    val rows = SparkEntry.queries("win_decompose")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val daily = Tables.orders(spark, sfDir)
      .select(expr("unix_timestamp(o_orderdate) div 86400").as("day"),
        col("o_totalprice"))
      .collect().map(r => (r.getLong(0), s2(r.getDouble(1))))
      .groupBy(_._1).map { case (d, v) => d -> v.map(_._2).sum }
    val days = daily.keys.toSeq.sorted
    val trend = days.zipWithIndex.collect {
      case (d, i) if i >= 3 && i + 3 < days.size =>
        d -> days.slice(i - 3, i + 4).map(daily).sum
    }.toMap
    val detr = trend.map { case (d, t) => d -> (7 * daily(d) - t) }
    val seas = detr.groupBy(_._1 % 7).map { case (wd, m) =>
      // exact integer half-up mean, mirroring Det.halfUpDiv
      wd -> Math.floorDiv(2 * m.values.sum + m.size, 2L * m.size)
    }
    rows.foreach { r =>
      val (d, v, t, se, re) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(v == daily(d), s"day $d v")
      assert(t == trend(d), s"day $d trend")
      assert(se == seas(d % 7), s"day $d seasonal")
      assert(re == detr(d) - se, s"day $d resid")
      // additive identity in 7x units
      assert(7 * v == t + se + re, s"day $d reassembly")
    }
    assert(rows.length == trend.size, "full-window day count")
  }

  test("agg_auc: rank-sum identity equals the pairwise win count") {
    val row = SparkEntry.queries("agg_auc")(spark, sfDir).collect().head
    val scored = events.map(e => (s2(e._4), if (e._5 == "purchase") 1 else 0))
    val pos = scored.filter(_._2 == 1).map(_._1)
    val neg = scored.filter(_._2 == 0).map(_._1)
    val wins = (for (p <- pos; n <- neg) yield
      if (p > n) 2L else if (p == n) 1L else 0L).sum
    assert(row.getLong(0) == pos.size.toLong && row.getLong(1) == neg.size.toLong)
    // u2p = 2*#(pos>neg) + #(ties) — exact integer identity
    assert(row.getLong(2) == wins, "doubled win count")
    val auc6 = s6(wins.toDouble / (2.0 * pos.size * neg.size))
    assert(row.getLong(3) == auc6, "auc6")
    assert(row.getLong(4) == s6(wins.toDouble / (pos.size.toDouble * neg.size) - 1.0),
      "gini6")
  }

  test("eo_geohash: codes, prefixes and counts match the integer mirror") {
    val got = SparkEntry.queries("eo_geohash")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    val alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
    val mirror = events.map { e =>
      val id = e._2
      val latU = (id * 131) % 180000001L - 90000000L
      val lonU = (id * 7919) % 360000001L - 180000000L
      val latQ = (latU + 90000000L) * 4096 / 180000001L
      val lonQ = (lonU + 180000000L) * 8192 / 360000001L
      val code = (0 to 12).map(j => ((lonQ >> (12 - j)) & 1) << (24 - 2 * j)).sum +
        (0 to 11).map(j => ((latQ >> (11 - j)) & 1) << (23 - 2 * j)).sum
      val gh2 = "" + alpha(((code >> 20) & 31).toInt) + alpha(((code >> 15) & 31).toInt)
      (gh2, code, s2(e._4))
    }
    val grouped = mirror.groupBy(_._1)
    assert(got.keySet == grouped.keySet, "prefix domain")
    grouped.foreach { case (gh2, rows) =>
      val (n, sv, cmin, cmax) = got(gh2)
      assert(n == rows.size.toLong, s"$gh2 n")
      assert(sv == rows.map(_._3).sum, s"$gh2 sum")
      assert(cmin == rows.map(_._2).min && cmax == rows.map(_._2).max, s"$gh2 code range")
      // the prefix chars really are the top-10 bits of every member code
      rows.foreach(r => assert(r._2 >= cmin && r._2 <= cmax))
    }
    assert(got.values.map(_._1).sum == events.size.toLong, "total coverage")
  }

  test("llm_kmeans_round: assignment and centroid update match the mirror") {
    val got = SparkEntry.queries("llm_kmeans_round")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val seeds = vecs.filter(_._1 < 8).toMap
    val asg = vecs.map { case (id, v) =>
      val best = seeds.toSeq.map { case (ck, c) =>
        val d2 = v.indices.map(i =>
          math.floor((v(i) - c(i)) * (v(i) - c(i)) * 1e14 + 0.5).toLong).sum
        (d2, ck)
      }.min
      id -> best._2
    }.toMap
    val vecMap = vecs.toMap
    val byCluster = asg.groupBy(_._2)
    byCluster.foreach { case (ck, members) =>
      val ids = members.keys.toSeq
      val dim = vecs.head._2.length
      (0 until dim).foreach { pos =>
        val s6sum = ids.map(id => s6(vecMap(id)(pos))).sum
        val c6 = math.floor(s6sum.toDouble / ids.size + 0.5).toLong
        val (gc6, gn) = got((ck, pos))
        assert(gn == ids.size.toLong, s"cluster $ck size")
        assert(gc6 == c6, s"cluster $ck pos $pos centroid")
      }
    }
    assert(byCluster.values.map(_.size).sum == vecs.length, "total membership")
    assert(got.size == byCluster.size * vecs.head._2.length, "matrix shape")
  }

  test("agg_cpk: indices match the moment mirror; Cpk <= Cp") {
    val got = SparkEntry.queries("agg_cpk")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    li.groupBy(_._1).foreach { case (f, rows) =>
      val q = rows.map(r => s0(r._3))
      val n = q.size.toLong; val s = q.sum; val ss = q.map(x => x * x).sum
      val mean = s.toDouble / n
      val sd = math.sqrt((ss - s.toDouble * s / n) / (n - 1.0))
      val cp = (45.0 - 5.0) / (6.0 * sd)
      val cpk = math.min((45.0 - mean) / (3.0 * sd), (mean - 5.0) / (3.0 * sd))
      val (gn, cp6, cpk6) = got(f)
      assert(gn == n && cp6 == s6(cp) && cpk6 == s6(cpk), s"$f cpk")
      assert(cpk6 <= cp6, s"$f Cpk bounded by Cp")
    }
  }

  test("agg_cvar: VaR pick and tail mean match the sorted mirror") {
    val got = SparkEntry.queries("agg_cvar")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    events.groupBy(_._5).foreach { case (et, rows) =>
      val xs = rows.map(e => s2(e._4)).sorted
      val n = xs.size
      val idx = ((n - 1) * 95) / 100 // 0-based nearest-rank-lower
      val tail = xs.drop(idx)
      val (gn, gvar, gtn, gcvar) = got(et)
      assert(gn == n.toLong, s"$et n")
      assert(gvar == xs(idx), s"$et var95")
      assert(gtn == tail.size.toLong, s"$et tail size")
      assert(gcvar == math.floor(tail.sum.toDouble / tail.size + 0.5).toLong, s"$et cvar")
      assert(gcvar >= gvar, s"$et CVaR dominates VaR")
    }
  }

  test("win_survival: Nelson-Aalen hazard matches the lifetable mirror") {
    val rows = SparkEntry.queries("win_survival")(spark, sfDir).collect()
    assert(rows.nonEmpty, "deaths exist on this corpus")
    val users = events.groupBy(_._1).toSeq.map { case (_, es) =>
      val firstT = es.map(_._3).min
      val lastT = es.map(_._3).max
      val fp = es.filter(_._5 == "purchase").map(_._3)
      val (end, death) = if (fp.nonEmpty) (fp.min, 1) else (lastT, 0)
      ((end - firstT) / 86400, death)
    }.toSeq
    val n = users.size.toLong
    val table = users.groupBy(_._1).toSeq.sortBy(_._1).map { case (dur, m) =>
      (dur, m.count(_._2 == 1).toLong, m.count(_._2 == 0).toLong, m.size.toLong)
    }
    var below = 0L; var haz = 0L
    val expect = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long)]()
    table.foreach { case (dur, d, c, tot) =>
      val nRisk = n - below
      if (d > 0) {
        haz += s6(d.toDouble / nRisk)
        expect += ((dur, nRisk, d, c, haz))
      }
      below += tot
    }
    val gotSeq = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq
    assert(gotSeq == expect.toSeq, "lifetable")
    // cumulative hazard is nondecreasing
    assert(gotSeq.map(_._5) == gotSeq.map(_._5).sorted, "monotone")
  }

  test("mm_shard_pack: tar arithmetic and shard assignment match the mirror") {
    val got = SparkEntry.queries("mm_shard_pack")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    val items = docs.map { case (id, text, _) =>
      val fmt = if (id % 3 == 0) "png" else if (id % 3 == 1) "jpeg" else "wav"
      (fmt, id, text.length.toLong)
    }
    val expect = scala.collection.mutable.Map[(String, Long),
      (Long, Long, Long)]()
    items.groupBy(_._1).foreach { case (fmt, rows) =>
      var before = 0L
      rows.sortBy(_._2).foreach { case (_, _, n) =>
        val tar = 512L + ((n + 511) / 512) * 512
        val shard = before / 10240
        val (a, b, c) = expect.getOrElse((fmt, shard), (0L, 0L, 0L))
        expect((fmt, shard)) = (a + 1, b + n, c + tar)
        before += tar
      }
    }
    assert(got.keySet == expect.keySet, "shard domain")
    expect.foreach { case (k, (n, pb, tb)) =>
      val (gn, gpb, gtb, gf6) = got(k)
      assert(gn == n && gpb == pb && gtb == tb, s"$k sums")
      assert(gf6 == s6(tb.toDouble / 10240.0), s"$k fill")
    }
    // every member's tar footprint is a whole number of 512 blocks
    assert(got.values.forall(_._3 % 512 == 0), "block alignment")
  }

  test("llm_heldout_ce: smoothed cross-entropy matches the split mirror") {
    val got = SparkEntry.queries("llm_heldout_ce")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    // fold must match Det.hash32(doc_id) % 5 — read it from the engine
    val folds = Tables.documents(spark, sfDir)
      .select(col("doc_id"), (Det.hash32(col("doc_id").cast("string")) % 5).as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.groupBy(_._3).foreach { case (lang, rows) =>
      val train = rows.filter(r => folds(r._1) != 0)
      val test = rows.filter(r => folds(r._1) == 0)
      if (test.isEmpty) assert(!got.contains(lang))
      else {
        val tc = train.flatMap(_._2.split(" ", -1))
          .groupBy(identity).map { case (t, v) => t -> v.size.toLong }
        val nl = tc.values.sum; val vl = tc.size.toLong
        var nTok = 0L; var nOov = 0L; var ce = 0L
        test.foreach { case (_, text, _) =>
          text.split(" ", -1).foreach { tok =>
            nTok += 1
            val c = tc.getOrElse(tok, 0L)
            if (c == 0L) nOov += 1
            ce += s6(-Det.lnRatioD(c + 1, nl + vl))
          }
        }
        val (gd, gt, go, gc) = got(lang)
        assert(gd == test.size.toLong, s"$lang docs")
        assert(gt == nTok && go == nOov, s"$lang token counts")
        assert(gc == ce, s"$lang cross-entropy")
        // smoothing keeps every term positive
        assert(gc > 0, s"$lang positive ce")
      }
    }
  }

  test("eo_tile_d8: steepest-descent histogram matches the grid mirror") {
    // sf0.001 has no complete tiles; synthesize the check at sf0.01
    val dir01 = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("eo_tile_d8")(spark, dir01).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got.nonEmpty, "complete tiles exist at sf0.01")
    val px = Tables.events(spark, dir01)
      .select(col("event_id"), Det.s2(col("value")).as("z")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val p0 = px.filter(_._1 % 4 == 0).map { case (id, z) =>
      val p = id / 4
      ((p / 256, (p % 256) / 16, (p % 256) % 16), z)
    }.toMap
    val fullTiles = p0.keys.groupBy(_._1).filter(_._2.size == 256).keySet
    val offs = Seq((0, 1, 1), (1, 1, 2), (1, 0, 4), (1, -1, 8),
      (0, -1, 16), (-1, -1, 32), (-1, 0, 64), (-1, 1, 128))
    val expect = scala.collection.mutable.Map[(Long, Long), (Long, Long, Long)]()
    for (tile <- fullTiles; py <- 1L to 14L; px2 <- 1L to 14L) {
      val z = p0((tile, py, px2))
      val drops = offs.map { case (dy, dx, dir) =>
        (z - p0((tile, py + dy, px2 + dx)), dir.toLong)
      }
      val best = drops.map(_._1).max
      val dir = if (best > 0) drops.filter(_._1 == best).map(_._2).min else 0L
      val drop = if (best > 0) best else 0L
      val pos = py * 16 + px2
      val (a, b, c) = expect.getOrElse((tile, dir), (0L, 0L, 0L))
      expect((tile, dir)) = (a + 1, b + drop, c + pos + 1)
    }
    assert(got == expect.toMap, "direction histogram")
    // every interior pixel is classified exactly once
    val perTile = got.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2._1).sum)
    assert(perTile.values.forall(_ == 196L), "14x14 interior coverage")
  }

  test("win_sprt: trajectory summary matches the sequential mirror") {
    val row = SparkEntry.queries("win_sprt")(spark, sfDir).collect().head
    val aT = math.floor(0.4054651081081644 * 1e6 + 0.5).toLong
    val bT = math.floor(-0.13353139262452263 * 1e6 + 0.5).toLong
    val bound = math.floor(2.9444389791664403 * 1e6 + 0.5).toLong
    val users = events.groupBy(_._1).toSeq
      .map { case (u, es) => (u, if (es.exists(_._5 == "purchase")) 1L else 0L) }
      .sortBy(_._1)
    var llr = 0L
    var fa: Option[Long] = None; var fr: Option[Long] = None
    users.zipWithIndex.foreach { case ((_, conv), i) =>
      llr += (if (conv == 1) aT else bT)
      if (fa.isEmpty && llr >= bound) fa = Some(i + 1L)
      if (fr.isEmpty && llr <= -bound) fr = Some(i + 1L)
    }
    assert(row.getLong(0) == users.size.toLong)
    assert(row.getLong(1) == users.map(_._2).sum)
    assert(row.getLong(2) == llr, "final llr")
    assert(Option(row.get(3)).map(_.asInstanceOf[Long]) == fa, "first accept")
    assert(Option(row.get(4)).map(_.asInstanceOf[Long]) == fr, "first reject")
    val decision = (fa, fr) match {
      case (Some(a), Some(r)) => if (a < r) 1 else -1
      case (Some(_), None) => 1
      case (None, Some(_)) => -1
      case _ => 0
    }
    assert(row.getInt(5) == decision, "decision")
  }

  test("TileUpCubicRows: ramp-exact interpolation, clamped edges, 16x scale") {
    import spark.implicits._
    val h = 3; val w = 4
    // rows: a linear ramp, a constant row, and an alternating row
    val ramp = Array.tabulate(w)(_.toFloat)
    val const = Array.fill(w)(5.0f)
    val alt = Array.tabulate(w)(i => if (i % 2 == 0) 0.0f else 8.0f)
    val tile = (ramp ++ const ++ alt).toSeq
    val df = Seq(tile).toDF("data")
      .select(graft.raster.TileExprs.upCubic(col("data"), h, w).as("out"))
    val out = df.collect().head.getSeq[Float](0)
    assert(out.length == h * 2 * w)
    def o(y: Int, x: Int): Float = out(y * 2 * w + x)
    // even outputs reproduce the input x16
    for (y <- 0 until h; x <- 0 until w)
      assert(o(y, 2 * x) == tile(y * w + x) * 16.0f, s"even $y,$x")
    // cubic reproduces a linear ramp exactly: odd = 16*(x + 0.5), interior
    assert(o(0, 3) == 16.0f * 1.5f, "ramp interior")
    // constant row: every odd sample equals the constant x16
    for (x <- 0 until w) assert(o(1, 2 * x + 1) == 5.0f * 16.0f, s"const $x")
    // edge clamp: last odd sample uses clamped xp = xq = w-1
    val lastExpected = -tile(w - 2) + 9 * tile(w - 1) + 9 * tile(w - 1) - tile(w - 1)
    assert(o(0, 2 * w - 1) == lastExpected, "right edge clamp")
    // alternating row overshoots (the cubic signature the bilinear lacks)
    assert(o(2, 1) > 8.0f * 16.0f / 2.0f, "catmull-rom overshoot")
  }

  test("graph_ppr: restart mass concentrates at the source; grid mirror") {
    val got = SparkEntry.queries("graph_ppr")(spark, sfDir).collect()
      .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap
    assert(got.size == 25)
    // the source keeps the restart mass plus recirculation: strictly
    // the largest rank, and every reachable node holds positive rank
    val src = got(0L)
    assert(got.forall { case (v, rq) => v == 0L || rq <= src }, "source dominates")
    assert(src >= 150000000L, "source holds at least the restart mass")
    // mass conservation (dangling drop only): total <= 1e9 + rounding slack
    assert(got.values.sum <= 1000000000L + 25, "no mass created")
  }

  test("win_stl_anomaly: robust threshold flags match the decompose mirror") {
    val rows = SparkEntry.queries("win_stl_anomaly")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // recompute resid via the win_decompose key (already mirror-proven)
    val resid = SparkEntry.queries("win_decompose")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(rows.map(_._1).toSet == resid.keySet, "day domain")
    rows.foreach { case (day, re, _, _) => assert(re == resid(day), s"day $day resid") }
    def dmed(xs: Seq[Long]): Long = { // interpolated median, doubled
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) 2 * s(n / 2) else s(n / 2 - 1) + s(n / 2)
    }
    val med2 = dmed(resid.values.toSeq)
    val devs = rows.map { case (d2, re, dev2, _) =>
      val expect = math.abs(2 * re - med2)
      assert(dev2 == expect, s"day $d2 dev"); expect
    }
    val mad4 = dmed(devs)
    rows.foreach { case (day, _, dev2, fl) =>
      assert(fl == (if (2 * dev2 > 3 * mad4) 1L else 0L), s"day $day flag")
    }
    // anomalies are rare on a smooth revenue series
    assert(rows.count(_._4 == 1) <= rows.size / 10, "flag rate sanity")
  }

  test("llm_prefix_dedup: keep-longest per prefix group; coverage partition") {
    val got = SparkEntry.queries("llm_prefix_dedup")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val groups = docs.groupBy(d => d._2.take(64))
    assert(got.length == groups.size, "one keeper per prefix group")
    val byId = docs.map(d => d._1 -> d._2).toMap
    got.foreach { case (kept, _, n) =>
      val grp = groups(byId(kept).take(64))
      assert(n == grp.size.toLong, s"group of $kept size")
      val best = grp.sortBy(d => (-d._2.length, d._1)).head
      assert(kept == best._1, s"keeper pick for prefix of $kept")
    }
    assert(got.map(_._3).sum == docs.size.toLong, "membership partition")
  }

  test("agg_log2_hist: bucket bisection matches the bit-length mirror") {
    val got = SparkEntry.queries("agg_log2_hist")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    val mirror = events.map(e => (e._5, s2(e._4)))
      .map { case (et, x) =>
        val b = if (x <= 0) -1L else (63 - java.lang.Long.numberOfLeadingZeros(x)).toLong
        (et, b, x)
      }
    val grouped = mirror.groupBy(t => (t._1, t._2))
    assert(got.keySet == grouped.keySet, "bucket domain")
    grouped.foreach { case (k, rows) =>
      val xs = rows.map(_._3)
      val (n, mn, mx) = got(k)
      assert(n == xs.size.toLong && mn == xs.min && mx == xs.max, s"$k stats")
      // every member really sits inside [2^k, 2^(k+1))
      if (k._2 >= 0) assert(mn >= (1L << k._2) && mx < (1L << (k._2 + 1)), s"$k bounds")
    }
  }

  test("join_asof_fwd: earliest follow-up click matches the scan mirror") {
    val got = SparkEntry.queries("join_asof_fwd")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some((r.getLong(1), r.getLong(2))))).toMap
    val byUser = events.groupBy(_._1)
    val expect = events.filter(_._5 == "purchase").map { p =>
      val cands = byUser(p._1).filter(e => e._5 == "click" && e._3 >= p._3)
      p._2 -> (if (cands.isEmpty) None else {
        val c = cands.minBy(e => (e._3, e._2))
        Some((c._2, c._3 - p._3))
      })
    }.toMap
    assert(got == expect, "forward as-of matches")
    // waits are nonnegative by construction
    assert(got.values.flatten.forall(_._2 >= 0), "forward-only")
  }

  test("scan_csv_quoted: hostile payload survives the quote/newline roundtrip") {
    val rows = SparkEntry.queries("scan_csv_quoted")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val mirror = docs.map { case (id, text, _) =>
      (id % 10, text.take(20) + "\",\n" + text.take(10) + "\"\"tail")
    }.groupBy(_._1)
    assert(rows.keySet == mirror.keySet)
    mirror.foreach { case (b, ps) =>
      val (n, sl, slnn) = rows(b)
      assert(n == ps.size.toLong, s"bucket $b n")
      assert(sl == ps.map(_._2.length.toLong).sum, s"bucket $b len")
      // exactly one embedded newline per payload survived the roundtrip
      assert(sl - slnn == ps.size.toLong, s"bucket $b newline count")
    }
  }

  test("fn_uuid3: RFC 4122 v3 format and referential stability") {
    val got = SparkEntry.queries("fn_uuid3")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == docs.size)
    val re = "^[0-9a-f]{8}-[0-9a-f]{4}-3[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$".r
    got.foreach { case (id, u) =>
      assert(re.matches(u), s"doc $id format: $u")
      // stable: recompute from the md5 mirror
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"urn:doc:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val variant = "89ab"((Integer.parseInt(md(16).toString, 16) & 3))
      val expect = md.substring(0, 8) + "-" + md.substring(8, 12) + "-3" +
        md.substring(13, 16) + "-" + variant + md.substring(17, 20) + "-" +
        md.substring(20, 32)
      assert(u == expect, s"doc $id uuid mirror")
    }
    assert(got.values.toSet.size == got.size, "uuids are unique")
  }

  test("win_growth_accounting: classification partition and churn identity") {
    val rows = SparkEntry.queries("win_growth_accounting")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1)
    assert(rows.nonEmpty)
    val active = events.map(e => (e._1, e._3 / 86400 / 7)).distinct
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val firstP = active.toSeq.flatMap { case (p, us) => us.map(_ -> p) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    rows.foreach { case (p, nAct, nNew, nRet, nRes, nCh) =>
      val us = active(p)
      assert(nAct == us.size.toLong, s"p$p active")
      assert(nNew == us.count(firstP(_) == p).toLong, s"p$p new")
      val prev = active.getOrElse(p - 1, Set.empty[Long])
      assert(nRet == us.count(prev).toLong, s"p$p retained")
      assert(nRes == us.count(u => firstP(u) < p && !prev(u)).toLong, s"p$p resurrected")
      assert(nCh == prev.size.toLong - nRet, s"p$p churned")
      // conservation: every active user is exactly one of the three
      assert(nAct == nNew + nRet + nRes, s"p$p partition identity")
    }
  }

  test("llm_gazetteer: mention counts match the dictionary-scan mirror") {
    val got = SparkEntry.queries("llm_gazetteer")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    val dict = Set("spark", "hash", "merge", "sort", "window", "batch", "scan")
    val expect = docs.flatMap { case (id, text, _) =>
      val hits = text.split(" ", -1).map(_.toLowerCase).filter(dict)
      if (hits.isEmpty) None
      else Some(id -> ((hits.length.toLong, hits.distinct.length.toLong, hits.min)))
    }.toMap
    assert(got == expect, "gazetteer rollup")
  }

  test("dq_k_anonymity: class sizes and suppression cost match the mirror") {
    val got = SparkEntry.queries("dq_k_anonymity")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    val full = Tables.documents(spark, sfDir)
      .select(col("lang"), col("source")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val classes = full.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(got.keySet == classes.keySet, "QI class domain")
    classes.foreach { case (qi, k) =>
      val (gk, v, sup) = got(qi)
      assert(gk == k, s"$qi k")
      assert(v == (if (k < 5) 1L else 0L), s"$qi flag")
      assert(sup == (if (k < 5) k else 0L), s"$qi suppression")
    }
    // total suppression cost equals the sum over violating classes
    assert(got.values.map(_._3).sum ==
      classes.values.filter(_ < 5).sum, "total cost")
  }

  test("llm_domain_cap: keep-top-20 accounting matches the rank mirror") {
    val got = SparkEntry.queries("llm_domain_cap")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    val bysrc = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    assert(got.keySet == bysrc.keySet)
    bysrc.foreach { case (src, rows) =>
      val ranked = rows.sortBy(r => (-r._3, r._2))
      val kept = ranked.take(20)
      val (n, nk, nd, kc, kmin) = got(src)
      assert(n == rows.size.toLong && nk == kept.size.toLong, s"$src counts")
      assert(nd == (rows.size - kept.size).toLong, s"$src dropped")
      assert(kc == kept.map(_._3).sum, s"$src kept chars")
      assert(kmin == kept.map(_._3).min, s"$src kept min")
      // the cap keeps the LONGEST docs: min kept >= max dropped
      if (rows.size > 20)
        assert(kmin >= ranked.drop(20).map(_._3).max, s"$src quality order")
    }
  }

  test("eo_tile_flow_acc: fixpoint at K rounds; accumulation conservation") {
    // sf0.001 has no complete tiles — drive at sf0.01 like eo_tile_d8
    val dir01 = "/root/testdata/sf0.01"
    def accMap(k: Int) = operators.EO.flowAccumulation(spark, dir01, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val atK = accMap(10)
    assert(atK.nonEmpty)
    assert(atK == accMap(11), "fixpoint not reached at FlowAccRounds")
    // every cell contributes its own unit: acc >= 1, and per tile the
    // accumulation total equals cells plus total routed flow (each edge
    // forwards its source's whole accumulation exactly once per level,
    // so sum(acc) >= n_cells with equality iff no interior flow)
    assert(atK.values.forall(_ >= 1L), "unit self-contribution")
    val graded = SparkEntry.queries("eo_tile_flow_acc")(spark, dir01).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val byTile = atK.groupBy(_._1._1)
    assert(graded.keySet == byTile.keySet)
    byTile.foreach { case (t, cells) =>
      val (n, mx, sm) = graded(t)
      assert(n == cells.size.toLong && n == 196L, s"tile $t interior")
      assert(mx == cells.values.max && sm == cells.values.sum, s"tile $t rollup")
    }
  }

  test("stream_active_users: sliding distinct actives match the window mirror") {
    val got = SparkEntry.queries("stream_active_users")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = events.flatMap { e =>
      (0 to 3).map(k => ((e._3 / 900 - k) * 900, e._1))
    }.distinct.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(got == expect, "sliding distinct actives")
    // a window's actives never exceed the sum of its four slices' actives
    assert(got.values.forall(_ >= 1L))
  }

  test("win_seasonal_strength: variance-ratio strength matches the mirror") {
    val row = SparkEntry.queries("win_seasonal_strength")(spark, sfDir)
      .collect().head
    // rebuild detr/resid via the win_decompose key and its mirror fields
    val dec = SparkEntry.queries("win_decompose")(spark, sfDir).collect()
      .map(r => (r.getLong(2) /*trend*/ , r.getLong(1) /*v*/ , r.getLong(3),
        r.getLong(4)))
    val pairs = dec.map { case (t7, v, seas, resid) =>
      val ds = 7 * v - t7
      assert(resid == ds - seas)
      (math.floor(ds.toDouble / 1e4).toLong, math.floor(resid.toDouble / 1e4).toLong)
    }
    val n = pairs.size.toLong
    def varOf(xs: Seq[Long]): Double = {
      val s = xs.sum; val ss = xs.map(x => x * x).sum
      (n.toDouble * ss - s.toDouble * s) / (n.toDouble * (n - 1.0))
    }
    val strength = math.max(0.0, 1.0 - varOf(pairs.map(_._2).toSeq) /
      varOf(pairs.map(_._1).toSeq))
    assert(row.getLong(0) == n, "n")
    assert(row.getLong(1) == s6(strength), "strength")
    assert(row.getLong(1) >= 0 && row.getLong(1) <= 1000000, "bounded")
  }

  test("win_cohort_ltv: cohort cells and cumulative revenue match the mirror") {
    val got = SparkEntry.queries("win_cohort_ltv")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    val pur = events.filter(_._5 == "purchase")
      .map(e => (e._1, e._3 / 604800, s2(e._4)))
    val cohort = pur.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val cells = pur.groupBy(p => (cohort(p._1), p._2 - cohort(p._1)))
      .map { case (k, v) => k -> ((v.map(_._1).distinct.size.toLong, v.map(_._3).sum)) }
    assert(got.keySet == cells.keySet, "cell domain")
    cells.foreach { case (k @ (c, a), (nb, rev)) =>
      val (gn, gr, gcum) = got(k)
      assert(gn == nb && gr == rev, s"cell $k")
      val cum = cells.filter { case ((c2, a2), _) => c2 == c && a2 <= a }
        .values.map(_._2).sum
      assert(gcum == cum, s"cell $k cumulative")
    }
  }

  test("agg_hurst: two-scale R/S matches the segment mirror; H in (0,1)") {
    // sf0.001's order series is too sparse for complete 16-day segments
    // (the graded key degenerates to NULLs there, matching its oracle);
    // drive the mirror at sf0.01 where 144 complete segments exist
    val dir01 = "/root/testdata/sf0.01"
    val row = SparkEntry.queries("agg_hurst")(spark, dir01).collect().head
    val daily = Tables.orders(spark, dir01)
      .select(expr("unix_timestamp(o_orderdate) div 86400").as("day"),
        col("o_totalprice")).collect()
      .map(r => (r.getLong(0), s2(r.getDouble(1))))
      .groupBy(_._1).view
      .mapValues(v => math.floor(v.map(_._2).sum.toDouble / 1e4).toLong).toMap
    def rsMean(m: Int): (Long, Long) = {
      val segs = daily.toSeq.groupBy(_._1 / m).filter(_._2.size == m)
      val rs6 = segs.toSeq.flatMap { case (_, cells) =>
        val vs = cells.sortBy(_._1).map(_._2)
        val sv = vs.sum; val svv = vs.map(x => x * x).sum
        val varS = (m.toDouble * svv - sv.toDouble * sv) / (m.toDouble * (m - 1.0))
        if (varS <= 0) None else {
          val us = vs.scanLeft(0L)(_ + _).drop(1).zipWithIndex
            .map { case (cum, i) => m.toLong * cum - (i + 1L) * sv }
          val r = us.max - us.min
          Some(s6((r.toDouble / m) / math.sqrt(varS)))
        }
      }
      (rs6.size.toLong, math.floor(rs6.sum.toDouble / rs6.size + 0.5).toLong)
    }
    val (n16, rs16) = rsMean(16); val (n64, rs64) = rsMean(64)
    assert(row.getLong(0) == n16 && row.getLong(1) == n64, "segment counts")
    assert(row.getLong(2) == rs16 && row.getLong(3) == rs64, "R/S means")
    val h = Det.lnRatioD(rs64, rs16) / 1.3862943611198906
    assert(row.getLong(4) == s6(h), "H")
    assert(row.getLong(4) > 0 && row.getLong(4) < 1000000, "H in (0,1)")
  }

  test("fn_bizdays: closed form equals the day-by-day weekday count") {
    val rows = SparkEntry.queries("fn_bizdays")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.nonEmpty)
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), expr("unix_timestamp(l_shipdate) div 86400").as("sd"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), expr("unix_timestamp(o_orderdate) div 86400").as("od"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute day-by-day weekday count, SIGNED for ship-before-order rows
    // (this synthetic corpus does not order the two dates)
    def weekdays(a: Long, b: Long): Long =
      if (a <= b) (a until b).count(d => (d + 3) % 7 < 5).toLong
      else -(b until a).count(d => (d + 3) % 7 < 5).toLong
    val mirror = li.map { case (ok, sd) =>
      val od = ord(ok)
      (weekdays(od, sd), sd - od)
    }.groupBy(_._1).view.mapValues { v =>
      (v.size.toLong, v.map(_._2).min, v.map(_._2).max)
    }.toMap
    assert(rows == mirror, "bizdays histogram vs brute weekday count")
    // weekend compression: calendar span always >= business span
    rows.foreach { case (bd, (_, cmin, cmax)) =>
      if (bd >= 0) assert(cmax >= bd, s"bucket $bd")
      else assert(cmin <= bd, s"bucket $bd") }
  }

  test("dq_id_gaps: span arithmetic and gap-run count match the set mirror") {
    val row = SparkEntry.queries("dq_id_gaps")(spark, sfDir).collect().head
    val ids = Tables.orders(spark, sfDir)
      .where(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
      .collect().map(_.getLong(0)).toSet
    val lo = ids.min; val hi = ids.max
    assert(row.getLong(0) == ids.size.toLong)
    assert(row.getLong(1) == lo && row.getLong(2) == hi)
    assert(row.getLong(3) == hi - lo + 1 - ids.size, "missing count")
    val gapRuns = ids.count(v => v < hi && !ids.contains(v + 1)).toLong
    assert(row.getLong(4) == gapRuns, "gap runs")
    // TPC-H orderkeys are deliberately sparse: the audit must see gaps
    assert(row.getLong(3) > 0 && gapRuns > 0, "corpus really is gappy")
  }

  test("agg_capture_recapture: estimators match and never undercount the census") {
    val row = SparkEntry.queries("agg_capture_recapture")(spark, sfDir)
      .collect().head
    val s1 = events.filter(_._2 % 2 == 0).map(_._1).toSet
    val s2set = events.filter(_._2 % 2 == 1).map(_._1).toSet
    val m = (s1 intersect s2set).size.toLong
    val union = (s1 union s2set).size.toLong
    assert(row.getLong(0) == s1.size.toLong && row.getLong(1) == s2set.size.toLong)
    assert(row.getLong(2) == m && row.getLong(3) == union)
    assert(row.getLong(4) ==
      math.floor(s1.size.toDouble * s2set.size / m + 0.5).toLong, "LP")
    assert(row.getLong(5) ==
      math.floor((s1.size + 1.0) * (s2set.size + 1.0) / (m + 1) - 1.0 + 0.5).toLong,
      "Chapman")
    assert(row.getLong(4) >= union && row.getLong(5) >= union - 1, "no undercount")
  }

  test("fn_luhn: check digits validate against the digit-walk mirror") {
    val got = SparkEntry.queries("fn_luhn")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val keys = Tables.orders(spark, sfDir).select("o_orderkey")
      .collect().map(_.getLong(0))
    val mirror = keys.map { ok =>
      val id = (ok * 7919 + 12345) % 100000000000L
      val lsum = (0 until 11).map { i =>
        val d = (id / math.pow(10, i).toLong) % 10
        if (i % 2 == 0) { val x = d * 2; if (x > 9) x - 9 else x } else d
      }.sum
      (id, lsum, (10 - lsum % 10) % 10)
    }
    val grouped = mirror.groupBy(_._3)
    assert(got.keySet == grouped.keySet.map(_.toLong))
    grouped.foreach { case (cd, rows) =>
      val (n, sl, mid) = got(cd)
      assert(n == rows.size.toLong && sl == rows.map(_._2).sum &&
        mid == rows.map(_._1).min, s"digit $cd")
    }
    // appending the check digit makes every number Luhn-valid: the full
    // 12-digit Luhn sum (payload shifted one position left) ends in 0
    mirror.take(50).foreach { case (id, _, cd) =>
      val full = id * 10 + cd
      val s12 = (0 until 12).map { i =>
        val d = (full / math.pow(10, i).toLong) % 10
        if (i % 2 == 1) { val x = d * 2; if (x > 9) x - 9 else x } else d
      }.sum
      assert(s12 % 10 == 0, s"$full not Luhn-valid")
    }
  }

  test("llm_feature_hash: signed-bucket vectors match the hashing mirror") {
    val got = SparkEntry.queries("llm_feature_hash")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // read the engine's own portable hash for the vocabulary once
    val vocab = docs.flatMap(_._2.split(" ", -1)).distinct
    import spark.implicits._
    val hashes = vocab.toDF("tok")
      .select(col("tok"), Det.hash32(col("tok")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    docs.foreach { case (id, text, _) =>
      val w = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      text.split(" ", -1).foreach { tok =>
        val h = hashes(tok)
        w(h % 64) += (if ((h / 64) % 2 == 0) 1L else -1L)
      }
      val (nnz, nsq, ck) = got(id)
      assert(nnz == w.values.count(_ != 0).toLong, s"doc $id nnz")
      assert(nsq == w.values.map(v => v * v).sum, s"doc $id norm")
      assert(ck == w.map { case (b, v) => v * (b + 1) }.sum, s"doc $id checksum")
    }
  }

  test("win_reflected_runsum: reflection identity equals the sequential clamp") {
    val got = SparkEntry.queries("win_reflected_runsum")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    events.filter(e => e._5 == "purchase" || e._5 == "click")
      .groupBy(_._1).foreach { case (u, rows) =>
        val ordered = rows.sortBy(e => (e._3, e._2))
        // the SEQUENTIAL ground truth the closed form must reproduce
        var bal = 0L; var maxB = 0L; var dep = 0L; var short = 0L
        var s = 0L; var minS = 0L
        ordered.foreach { e =>
          val delta = if (e._5 == "purchase") s2(e._4) else -s2(e._4)
          s += delta; minS = math.min(minS, s)
          val nb = bal + delta
          if (nb < 0) { short += -nb; bal = 0; if (delta < 0) dep += 1 }
          else { bal = nb; if (delta < 0 && bal == 0) dep += 1 }
          maxB = math.max(maxB, bal)
        }
        val (n, gmax, gdep, gshort, gfinal) = got(u)
        assert(n == ordered.size.toLong, s"user $u moves")
        assert(gmax == maxB, s"user $u max")
        assert(gfinal == bal, s"user $u final")
        assert(gdep == dep, s"user $u depletions")
        assert(gshort == math.max(0L, -minS), s"user $u shortfall")
        // identity check: clamp-absorbed shortfall equals the reflection
        assert(short == gshort, s"user $u Skorokhod identity")
      }
  }

  test("fn_cidr_match: shift matching equals the prefix mirror") {
    val got = SparkEntry.queries("fn_cidr_match")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val nets = Seq(("10.0.0.0/8", 167772160L, 8),
      ("172.16.0.0/12", 2886729728L, 12), ("192.168.0.0/16", 3232235520L, 16))
    val ips = events.map(e => (e._2 * 2654435761L) % 4294967296L)
    val mirror = nets.flatMap { case (cidr, net, p) =>
      val hits = ips.filter(a => (a >> (32 - p)) == (net >> (32 - p)))
      if (hits.isEmpty) None
      else Some(cidr -> ((hits.size.toLong, hits.min, hits.max)))
    }.toMap
    assert(got == mirror, "cidr matches")
    // every reported ip really sits inside its subnet's numeric range
    got.foreach { case (cidr, (_, lo, hi)) =>
      val (_, net, p) = nets.find(_._1 == cidr).get
      val span = 1L << (32 - p)
      assert(lo >= net && hi < net + span, s"$cidr bounds")
    }
  }

  test("agg_wilson: interval brackets p-hat and matches the closed form") {
    val got = SparkEntry.queries("agg_wilson")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    events.groupBy(_._5).foreach { case (et, rows) =>
      val n = rows.size.toLong
      val k = rows.count(_._4 > 500).toLong
      val z = 1.96; val nD = n.toDouble; val p = k.toDouble / nD
      val denom = 1.0 + z * z / nD
      val center = (p + z * z / (2.0 * nD)) / denom
      val half = (z * math.sqrt(p * (1.0 - p) / nD + z * z / (4.0 * nD * nD))) / denom
      val (gn, gk, p6, lo6, hi6) = got(et)
      assert(gn == n && gk == k, s"$et counts")
      assert(p6 == s6(p) && lo6 == s6(center - half) && hi6 == s6(center + half),
        s"$et interval")
      assert(lo6 <= p6 && p6 <= hi6, s"$et bracket")
      assert(lo6 >= -1 && hi6 <= 1000001, s"$et bounds")
    }
  }

  test("win_state_duration: hold times match the lead mirror; shares sum to 1") {
    val got = SparkEntry.queries("win_state_duration")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    events.groupBy(_._1).foreach { case (u, rows) =>
      val ordered = rows.sortBy(e => (e._3, e._2))
      val holds = ordered.zip(ordered.drop(1))
        .map { case (a, b) => (a._5, b._3 - a._3) }
      val byType = holds.groupBy(_._1)
      val total = holds.map(_._2).sum
      byType.foreach { case (et, hs) =>
        val (nh, secs, share) = got((u, et))
        assert(nh == hs.size.toLong, s"$u/$et holds")
        assert(secs == hs.map(_._2).sum, s"$u/$et secs")
        assert(share == s6(hs.map(_._2).sum.toDouble / total), s"$u/$et share")
      }
      val userShares = got.collect { case ((uu, _), (_, _, sh)) if uu == u => sh }
      assert(math.abs(userShares.sum - 1000000L) <= userShares.size, s"$u share sum")
    }
  }

  test("llm_burstiness: top-20 cf/df ranking matches the corpus mirror") {
    val got = SparkEntry.queries("llm_burstiness")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4)))
    val stats = docs.flatMap { case (id, text, _) =>
      text.split(" ", -1).map(t => (t, id))
    }.groupBy(_._1).view.mapValues(v => (v.size.toLong, v.map(_._2).distinct.size.toLong))
      .filter(_._2._2 >= 5)
    val ranked = stats.toSeq
      .sortBy { case (t, (cf, df)) => (-cf.toDouble / df, t) }.take(20)
    assert(got.length == 20)
    got.zip(ranked).zipWithIndex.foreach {
      case (((tok, cf, df, b6, rn), (mt, (mcf, mdf))), i) =>
        assert(tok == mt && cf == mcf && df == mdf, s"rank ${i + 1}")
        assert(b6 == s6(cf.toDouble / df) && rn == i + 1, s"rank ${i + 1} score")
        // burstiness is at least 1 by definition (cf >= df)
        assert(b6 >= 1000000, s"rank ${i + 1} floor")
    }
  }

  test("eo_cva: change vectors match the bi-temporal mirror at sf0.01") {
    val dir01 = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("eo_cva")(spark, dir01).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got.nonEmpty)
    val px = Tables.events(spark, dir01)
      .select(col("event_id"), col("user_id"), Det.s2(col("value")).as("b2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byPix = px.map { case (id, b1, b2) =>
      ((id / 4 / 256, (id / 4) % 256, id % 4), (b1, b2))
    }.toMap
    val fullTiles = byPix.keys.filter(_._3 == 0).groupBy(_._1)
      .filter(_._2.size == 256).keySet
    val expect = scala.collection.mutable.Map[(Long, Long), (Long, Long, Long)]()
    for (tile <- fullTiles; pos <- 0L until 256L) {
      val (a1, a2) = byPix((tile, pos, 0L))
      val (c1, c2) = byPix((tile, pos, 1L))
      val d1 = c1 - a1; val d2 = c2 - a2
      val q = if (d1 >= 0 && d2 >= 0) 0L else if (d1 < 0 && d2 >= 0) 1L
        else if (d1 < 0 && d2 < 0) 2L else 3L
      val (n, m, ck) = expect.getOrElse((tile, q), (0L, 0L, 0L))
      expect((tile, q)) = (n + 1, m + d1 * d1 + d2 * d2, ck + pos + 1)
    }
    assert(got == expect.toMap, "CVA histogram")
    // per tile, the quadrant partition covers all 256 pixels
    got.toSeq.groupBy(_._1._1).foreach { case (t, rows) =>
      assert(rows.map(_._2._1).sum == 256L, s"tile $t coverage")
    }
  }

  test("win_topk_churn: adjacent-week overlap matches the set mirror") {
    val got = SparkEntry.queries("win_topk_churn")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val weekly = events.filter(_._5 == "purchase")
      .groupBy(e => (e._3 / 604800, e._1)).view
      .mapValues(_.map(e => s2(e._4)).sum).toMap
    val top5 = weekly.groupBy(_._1._1).view.mapValues { m =>
      m.toSeq.map { case ((_, u), rev) => (u, rev) }
        .sortBy { case (u, rev) => (-rev, u) }.take(5).map(_._1).toSet
    }.toMap
    val expect = top5.keys.filter(w => top5.contains(w + 1)).map { w =>
      val common = (top5(w) intersect top5(w + 1)).size.toLong
      val union = top5(w).size + top5(w + 1).size - common
      w -> ((common, s6(common.toDouble / union)))
    }.toMap
    assert(got == expect, "leaderboard churn")
  }

  test("agg_basket_lift: pair association matches the basket mirror") {
    val got = SparkEntry.queries("agg_basket_lift")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5)))
    val brands = Tables.part(spark, sfDir).select("p_partkey", "p_brand")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val baskets = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), brands(r.getLong(1)))).distinct
    val nt = baskets.map(_._1).distinct.length.toLong
    val singles = baskets.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairs = baskets.groupBy(_._1).values.toSeq.flatMap { items =>
      val bs = items.map(_._2).sorted
      for (i <- bs.indices; j <- (i + 1) until bs.size) yield (bs(i), bs(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ranked = pairs.toSeq.map { case ((a, b), nab) =>
      val lift = nab.toDouble * nt / (singles(a).toDouble * singles(b))
      (a, b, nab, lift)
    }.sortBy { case (a, b, _, l) => (-l, a, b) }.take(20)
    assert(got.length == 20)
    got.zip(ranked).zipWithIndex.foreach {
      case (((ga, gb, gnab, gc6, gl6, grn), (a, b, nab, lift)), i) =>
        assert(ga == a && gb == b && gnab == nab, s"rank ${i + 1}")
        assert(gc6 == s6(nab.toDouble / singles(a)), s"rank ${i + 1} conf")
        assert(gl6 == s6(lift) && grn == i + 1, s"rank ${i + 1} lift")
    }
  }

  test("agg_anova: F statistic matches the group-moment mirror; SS identity") {
    val row = SparkEntry.queries("agg_anova")(spark, sfDir).collect().head
    val groups = li.groupBy(_._1).view.mapValues(_.map(r => s0(r._3))).toMap
    val k = groups.size.toLong
    val n = groups.values.map(_.size).sum.toLong
    val sx = groups.values.map(_.sum).sum
    val sxx = groups.values.flatMap(_.map(x => x * x)).sum
    val sxg6 = groups.values.map { xs =>
      s6(xs.sum.toDouble * xs.sum / xs.size)
    }.sum
    val sxgD = sxg6.toDouble / 1e6
    val ssb = sxgD - sx.toDouble * sx / n
    val ssw = sxx.toDouble - sxgD
    val f = (ssb / (k - 1.0)) / (ssw / (n.toDouble - k))
    assert(row.getLong(0) == k && row.getLong(1) == n)
    assert(row.getLong(2) == s6(ssb) && row.getLong(3) == s6(ssw), "SS split")
    assert(row.getLong(4) == s6(f), "F")
    // SSB + SSW = total sum of squares (the ANOVA identity)
    val sst = sxx.toDouble - sx.toDouble * sx / n
    assert(math.abs((ssb + ssw) - sst) < 1e-3, "SS identity")
  }

  test("win_impossible_travel: flags match the squared-speed mirror") {
    val got = SparkEntry.queries("win_impossible_travel")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    events.groupBy(_._1).foreach { case (u, rows) =>
      val ordered = rows.sortBy(e => (e._3, e._2))
      val hops = ordered.zip(ordered.drop(1)).map { case (a, b) =>
        def la(id: Long) = (id * 131) % 180000001L - 90000000L
        def lo(id: Long) = (id * 7919) % 360000001L - 180000000L
        val d2 = (la(b._2) - la(a._2)) * (la(b._2) - la(a._2)) +
          (lo(b._2) - lo(a._2)) * (lo(b._2) - lo(a._2))
        val dt = math.min(math.max(b._3 - a._3, 1L), 86400L)
        (b._2, d2 > 1000000L * dt * dt)
      }
      val (n, nf, first) = got(u)
      assert(n == hops.size.toLong, s"user $u hops")
      assert(nf == hops.count(_._2).toLong, s"user $u flags")
      assert(first == hops.filter(_._2).map(_._1).minOption, s"user $u first")
    }
  }

  test("join_overlap_secs: interval overlap matches the session mirror") {
    val got = SparkEntry.queries("join_overlap_secs")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val weeks = events.map(_._3 / 604800).distinct
    val windows = weeks.map(w => w -> ((w * 604800 + 172800, w * 604800 + 194400))).toMap
    events.groupBy(_._1).foreach { case (u, rows) =>
      val ts = rows.sortBy(e => (e._3, e._2)).map(_._3)
      // 30-min-gap sessionization mirror
      val sessions = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var s0 = ts.head; var s1 = ts.head
      ts.drop(1).foreach { t =>
        if (t - s1 > 1800) { sessions += ((s0, s1)); s0 = t }
        s1 = t
      }
      sessions += ((s0, s1))
      val cells = sessions.map { case (a, b) =>
        val wk = a / 604800
        val (_, m0, m1) = (wk, windows(wk)._1, windows(wk)._2)
        math.max(0L, math.min(b, m1) - math.max(a, m0))
      }
      val (n, secs, hits) = got(u)
      assert(n == sessions.size.toLong, s"user $u sessions")
      assert(secs == cells.sum, s"user $u overlap")
      assert(hits == cells.count(_ > 0).toLong, s"user $u hits")
    }
  }

  test("win_slo_burn: multiwindow alert matches the integer-threshold mirror") {
    val rows = SparkEntry.queries("win_slo_burn")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1)
    val hourly = events.groupBy(_._3 / 3600).toSeq.sortBy(_._1).map {
      case (hr, es) => (hr, es.size.toLong, es.count(_._5 == "error").toLong)
    }
    assert(rows.map(_._1).toSeq == hourly.map(_._1), "hour domain")
    rows.zipWithIndex.foreach { case ((hr, tot, err, b1, b6v, alert), i) =>
      val (_, mt, me) = hourly(i)
      assert(tot == mt && err == me, s"hr $hr counts")
      val win = hourly.slice(math.max(0, i - 5), i + 1)
      val (t6, e6) = (win.map(_._2).sum, win.map(_._3).sum)
      assert(b1 == s6(err.toDouble / tot / 0.2), s"hr $hr fast burn")
      assert(b6v == s6(e6.toDouble / t6 / 0.2), s"hr $hr slow burn")
      val expect = if (50 * err > 12 * tot && 500 * e6 > 105 * t6) 1L else 0L
      assert(alert == expect, s"hr $hr alert")
    }
    // the slow window gates the fast one: alerts are a subset of fast breaches
    rows.foreach { case (hr, tot, err, _, _, a) =>
      if (a == 1) assert(50 * err > 12 * tot, s"hr $hr gating")
    }
  }

  test("win_lttb: per-bucket pick maximizes the cross-multiplied triangle") {
    val rows = SparkEntry.queries("win_lttb")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val daily = Tables.orders(spark, sfDir)
      .select(expr("unix_timestamp(o_orderdate) div 86400").as("day"),
        col("o_totalprice")).collect()
      .map(r => (r.getLong(0), s2(r.getDouble(1))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    val buckets = daily.groupBy(_._1 / 7)
    val expect = buckets.keys.toSeq.sorted.flatMap { bk =>
      (buckets.get(bk - 1), buckets.get(bk + 1)) match {
        case (Some(a), Some(b)) =>
          val (ca, sda, sva) = (a.size.toLong, a.map(_._1).sum, a.map(_._2).sum)
          val (cb, sdb, svb) = (b.size.toLong, b.map(_._1).sum, b.map(_._2).sum)
          val scored = buckets(bk).map { case (day, v) =>
            val m = math.abs((sda * cb - sdb * ca) * (v * ca - sva) -
              (sda - day * ca) * (svb * ca - sva * cb))
            (day, v, m)
          }
          val best = scored.sortBy(p => (-p._3, p._1)).head
          Some((bk, best._1, best._2, best._3))
        case _ => None
      }
    }
    assert(rows.sortBy(_._1).toSeq == expect, "LTTB picks")
    // exactly one representative per interior bucket
    assert(rows.map(_._1).distinct.length == rows.length)
  }

  test("agg_mad: doubled medians and robust flags match the mirror") {
    val got = SparkEntry.queries("agg_mad")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    def dmed(xs: Seq[Long]): Long = {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) 2 * s(n / 2) else s(n / 2 - 1) + s(n / 2)
    }
    li.groupBy(_._1).foreach { case (g, rows) =>
      val xs = rows.map(r => s0(r._3))
      val med2 = dmed(xs)
      val devs = xs.map(x => math.abs(2 * x - med2))
      val mad4 = dmed(devs)
      val nOut = devs.count(d => 2 * d > 3 * mad4).toLong
      val (n, gm2, gm4, gno) = got(g)
      assert(n == xs.size.toLong && gm2 == med2 && gm4 == mad4 && gno == nOut,
        s"group $g")
    }
  }

  test("graph_closeness: matches per-source BFS closeness; center ordering") {
    val got = SparkEntry.queries("graph_closeness")(spark, sfDir).collect()
      .map(r => r.getAs[Number](0).longValue ->
        ((r.getLong(1), r.getLong(2)))).toMap
    // mirror: per-source BFS over the undirected distinct edge set
    val bfs = SparkEntry.queries("graph_bfs")(spark, sfDir).collect()
      .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue)
      .toMap
    // graph_bfs gives distances FROM node 0; closeness needs all pairs,
    // so assert consistency only on node 0's column sum contribution:
    // d(0,v) from the matrix must equal the BFS distances
    assert(got.size == 25)
    got.foreach { case (_, (sumD, c6)) =>
      assert(sumD >= 24, "at least hop-1 to everyone")
      assert(c6 > 0 && c6 <= 1000000, "closeness in (0,1]")
    }
    // the matrix's node-0 column agrees with graph_bfs (both run the
    // same K relaxation rounds; the undirected graph is symmetric, so
    // Σ_{u≠0} d(u,0) = Σ_{v≠0} d(0,v) — the BFS row sum)
    assert(got(0L)._1 == bfs.filter(_._1 != 0L).values.sum,
      "node-0 column equals BFS row")
  }

  test("eo_tile_otsu: the cut maximizes between-class variance at sf0.01") {
    val dir01 = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("eo_tile_otsu")(spark, dir01).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got.nonEmpty)
    val px = Tables.events(spark, dir01)
      .select(col("event_id"), col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val tiles = px.filter(_._1 % 4 == 0)
      .map { case (id, v) => (id / 4 / 256, math.min(v / 32, 15L)) }
      .groupBy(_._1).filter(_._2.size == 256)
    tiles.foreach { case (tile, bins) =>
      val hist = bins.map(_._2).groupBy(identity).view
        .mapValues(v => (v.size.toLong, v.sum)).toMap
      val order = hist.keys.toSeq.sorted
      val ct = hist.values.map(_._1).sum; val st = hist.values.map(_._2).sum
      var c0 = 0L; var s0v = 0L
      val cands = order.flatMap { bin =>
        c0 += hist(bin)._1; s0v += hist(bin)._2
        val c1 = ct - c0; val s1 = st - s0v
        if (c0 > 0 && c1 > 0) {
          val num = s0v * c1 - s1 * c0
          Some((bin, c0, c1, num * num * 10000L / (c0 * c1)))
        } else None
      }
      val best = cands.sortBy(c => (-c._4, c._1)).head
      val (gb, gc0, gc1, gsep) = got(tile)
      assert(gb == best._1 && gc0 == best._2 && gc1 == best._3, s"tile $tile cut")
      assert(gsep == best._4, s"tile $tile separation")
      // maximality: no other candidate scores higher
      cands.foreach(c => assert(c._4 <= best._4, s"tile $tile argmax"))
    }
  }

  test("agg_hill_diversity: ladder matches mirror and obeys 0D >= 1D >= 2D") {
    val got = SparkEntry.queries("agg_hill_diversity")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    events.groupBy(_._1 % 10).foreach { case (bk, rows) =>
      val counts = rows.groupBy(_._5).view.mapValues(_.size.toLong).toMap
      val n = counts.values.sum
      val h6 = counts.values.map { c =>
        val p = c.toDouble / n; s6(-p * Det.lnRatioD(c, n))
      }.sum
      val d1c = math.floor(Det.expPD(h6.toDouble / 1e6) * 100 + 0.5).toLong
      val d2c = math.floor(n.toDouble * n / counts.values.map(c => c * c).sum * 100 + 0.5).toLong
      val (gn, gd0, gd1, gd2) = got(bk)
      assert(gn == n && gd0 == counts.size.toLong, s"bucket $bk counts")
      assert(gd1 == d1c && gd2 == d2c, s"bucket $bk ladder")
      // evenness ordering (in hundredths; ties allowed)
      assert(gd0 * 100 >= gd1 && gd1 >= gd2 - 1, s"bucket $bk ordering")
    }
  }

  test("agg_corr_matrix: pairwise r matches the nine-moment mirror") {
    val got = SparkEntry.queries("agg_corr_matrix")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val rows = li.map(r => (s0(r._3), s0(r._4)))
    val disc = Tables.lineitem(spark, sfDir).select("l_discount")
      .collect().map(r => s2(r.getDouble(0)))
    val xs = rows.map(_._1); val ys = rows.map(_._2); val zs = disc.toSeq
    val n = xs.size.toDouble
    def r(a: Seq[Long], b: Seq[Long]): Double = {
      val sa = a.sum; val sb = b.sum
      val saa = a.map(v => v * v).sum; val sbb = b.map(v => v * v).sum
      val sab = a.zip(b).map { case (u, v) => u * v }.sum
      (n * sab - sa.toDouble * sb) /
        (math.sqrt(n * saa - sa.toDouble * sa) * math.sqrt(n * sbb - sb.toDouble * sb))
    }
    assert(got(("qty", "price")) == s6(r(xs, ys)), "qty~price")
    assert(got(("qty", "disc")) == s6(r(xs, zs)), "qty~disc")
    assert(got(("price", "disc")) == s6(r(ys, zs)), "price~disc")
    got.values.foreach(v => assert(v >= -1000000 && v <= 1000000, "|r| <= 1"))
  }

  test("llm_simhash_est: banded candidates and cosine estimates match the mirror") {
    val got = SparkEntry.queries("llm_simhash_est")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    val vocab = docs.flatMap(_._2.split(" ", -1)).distinct
    import spark.implicits._
    val hashes = vocab.toDF("tok")
      .select(col("tok"), Det.hash32(col("tok")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sigs = docs.map { case (id, text, lang) =>
      val w = text.split(" ", -1).groupBy(identity).view.mapValues(_.length.toLong)
      val acc = new Array[Long](32)
      w.foreach { case (tok, cnt) =>
        val h = hashes(tok)
        (0 until 32).foreach(b =>
          acc(b) += (if (((h >> b) & 1) == 1) cnt else -cnt))
      }
      val sig = (0 until 32).map(b => if (acc(b) > 0) 1L << b else 0L).sum
      (id, lang, sig)
    }
    val expect = scala.collection.mutable.Map[(Long, Long), (Long, Long)]()
    sigs.groupBy(_._2).foreach { case (_, ds) =>
      for (i <- ds.indices; j <- (i + 1) until ds.size) {
        val (a, b2) = if (ds(i)._1 < ds(j)._1) (ds(i), ds(j)) else (ds(j), ds(i))
        val shareBand = (0 until 4).exists(b =>
          ((a._3 >> (8 * b)) & 255) == ((b2._3 >> (8 * b)) & 255))
        if (shareBand) {
          val h = java.lang.Long.bitCount(a._3 ^ b2._3).toLong
          if (h <= 8)
            expect((a._1, b2._1)) = (h, s6(math.cos(math.Pi * h / 32.0)))
        }
      }
    }
    assert(got == expect.toMap, "estimator surface")
    // identical docs estimate cosine 1 exactly
    got.foreach { case (_, (h, e)) => if (h == 0) assert(e == 1000000L) }
  }

  test("eo_crosstab: contingency counts and shares match the mirror") {
    val got = SparkEntry.queries("eo_crosstab")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    val cells = events.map { e =>
      val cls = if (e._4 < 200) "low" else if (e._4 < 600) "mid" else "high"
      (e._1 % 8, cls)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val totals = cells.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    assert(got.keySet == cells.keySet, "cell domain")
    cells.foreach { case (k @ (z, _), n) =>
      val (gn, gs) = got(k)
      assert(gn == n && gs == s6(n.toDouble / totals(z)), s"cell $k")
    }
    // each zone's shares sum to ~1 on the s6 grid
    got.toSeq.groupBy(_._1._1).foreach { case (z, rows) =>
      assert(math.abs(rows.map(_._2._2).sum - 1000000L) <= rows.size, s"zone $z")
    }
  }

  test("agg_decay_mean: dyadic weights match the shift mirror; recency pulls") {
    val got = SparkEntry.queries("agg_decay_mean")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    val dmax = events.map(_._3 / 86400).max
    events.filter(_._5 == "purchase").groupBy(_._1).foreach { case (u, rows) =>
      val pts = rows.map { e =>
        val k = math.min((dmax - e._3 / 86400) / 7, 20L)
        (s2(e._4), 1048576L >> k.toInt)
      }
      val wsum = pts.map(_._2).sum
      val num = pts.map { case (v, w) => v * w }.sum
      val (n, gw, dec, plain) = got(u)
      assert(n == pts.size.toLong && gw == wsum, s"user $u weights")
      assert(dec == math.floor(num.toDouble / wsum + 0.5).toLong, s"user $u decayed")
      assert(plain ==
        math.floor(pts.map(_._1).sum.toDouble / pts.size + 0.5).toLong, s"user $u plain")
    }
  }

  test("TileFocalExtremum3x3: dilate/erode and the Beucher gradient on a known grid") {
    import spark.implicits._
    val h = 4; val w = 5
    // a ramp with one spike: interior extrema are hand-checkable
    val tile = Array(
      0f, 1f, 2f, 3f, 4f,
      1f, 2f, 9f, 4f, 5f,
      2f, 3f, 4f, 5f, 6f,
      3f, 4f, 5f, 6f, 7f).toSeq
    val df = Seq(tile).toDF("data").select(
      graft.raster.TileExprs.max3(col("data"), h, w).as("mx"),
      graft.raster.TileExprs.min3(col("data"), h, w).as("mn"))
    val row = df.collect().head
    val mx = row.getSeq[Float](0); val mn = row.getSeq[Float](1)
    assert(mx.length == (h - 2) * (w - 2) && mn.length == mx.length)
    // interior (1,1): 3x3 block rows 0-2 cols 0-2 -> max 9 (the spike), min 0
    assert(mx(0) == 9f && mn(0) == 0f)
    // interior (1,3): rows 0-2 cols 2-4 -> max 9, min 2
    assert(mx(2) == 9f && mn(2) == 2f)
    // interior (2,2): rows 1-3 cols 1-3 -> max 9, min 2
    assert(mx(4) == 9f && mn(4) == 2f)
    // gradient is nonnegative everywhere and zero only on flats
    mx.zip(mn).foreach { case (a, b) => assert(a >= b) }
  }

  test("eo_tile_morph_gradient: stencil pair matches the neighbor-join mirror") {
    val dir01 = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("eo_tile_morph_gradient")(spark, dir01).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got.nonEmpty)
    val px = Tables.events(spark, dir01)
      .select(col("event_id"), col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val p0 = px.filter(_._1 % 4 == 0).map { case (id, v) =>
      val p = id / 4
      ((p / 256, (p % 256) / 16, (p % 256) % 16), v)
    }.toMap
    val fullTiles = p0.keys.groupBy(_._1).filter(_._2.size == 256).keySet
    fullTiles.foreach { tile =>
      var n = 0L; var sg = 0L; var mg = 0L; var ck = 0L
      for (py <- 1L to 14L; pxx <- 1L to 14L) {
        val nbs = for (dy <- -1 to 1; dx <- -1 to 1)
          yield p0((tile, py + dy, pxx + dx))
        val g = nbs.max - nbs.min
        n += 1; sg += g; mg = math.max(mg, g)
        ck += g * ((py - 1) * 14 + (pxx - 1) + 1)
      }
      val (gn, gs, gm, gc) = got(tile)
      assert(gn == n && gs == sg && gm == mg && gc == ck, s"tile $tile")
    }
  }

  test("dq_string_profile: character-class shares match the scan mirror") {
    val got = SparkEntry.queries("dq_string_profile")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    docs.groupBy(_._3).foreach { case (lang, rows) =>
      val lens = rows.map(_._2.length.toLong)
      val spaces = rows.map(_._2.count(_ == ' ').toLong)
      val vowels = rows.map(_._2.count("aeiou".contains(_)).toLong)
      val (n, mn, mx, sm, sp6, vw6) = got(lang)
      assert(n == rows.size.toLong && mn == lens.min && mx == lens.max &&
        sm == lens.sum, s"$lang lengths")
      assert(sp6 == s6(spaces.sum.toDouble / lens.sum), s"$lang spaces")
      assert(vw6 == s6(vowels.sum.toDouble / lens.sum), s"$lang vowels")
    }
  }

  test("llm_novelty: first-occurrence shares match the ordered mirror") {
    val got = SparkEntry.queries("llm_novelty")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val grams = docs.flatMap { case (id, text, _) =>
      val tk = text.split(" ", -1)
      if (tk.length < 8) Nil
      else (0 to tk.length - 8).map(i => (id, tk.slice(i, i + 8).mkString(" "))).distinct
    }
    val firstSeen = grams.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val byDoc = grams.groupBy(_._1)
    assert(got.keySet == byDoc.keySet, "doc domain")
    byDoc.foreach { case (id, gs) =>
      val novel = gs.count { case (_, g) => firstSeen(g) == id }.toLong
      val (n, nv, s) = got(id)
      assert(n == gs.size.toLong && nv == novel, s"doc $id counts")
      assert(s == s6(novel.toDouble / gs.size), s"doc $id share")
    }
    // the earliest doc is fully novel
    val firstDoc = byDoc.keys.min
    assert(got(firstDoc)._3 == 1000000L, "first doc novelty 1")
  }

  test("win_mtbf: failure gaps and recovery times match the lag mirror") {
    val got = SparkEntry.queries("win_mtbf")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    events.groupBy(_._1).foreach { case (u, rows) =>
      val ordered = rows.sortBy(e => (e._3, e._2))
      val errIdx = ordered.zipWithIndex.filter(_._1._5 == "error")
      if (errIdx.isEmpty) assert(!got.contains(u))
      else {
        val errTimes = errIdx.map(_._1._3)
        val tbf = errTimes.zip(errTimes.drop(1)).map { case (a, b) => b - a }
        val ttr = errIdx.flatMap { case (e, i) =>
          ordered.drop(i + 1).find(_._5 != "error").map(_._3 - e._3)
        }
        val (nf, ng, mtbf, mttr) = got(u)
        assert(nf == errIdx.size.toLong && ng == tbf.size.toLong, s"$u counts")
        def fmean(xs: Seq[Long]): Option[Long] =
          if (xs.isEmpty) None
          else Some(math.floor(xs.sum.toDouble / xs.size + 0.5).toLong)
        assert(mtbf == fmean(tbf), s"$u mtbf")
        assert(mttr == fmean(ttr), s"$u mttr")
      }
    }
  }
}

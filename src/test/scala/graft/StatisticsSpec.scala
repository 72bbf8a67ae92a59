package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Statistics family: decimal-power-sum formulations must agree with Spark's
  * built-in estimators to float tolerance, and derived structure must hold. */
class StatisticsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val sf = TestSpark.Sf

  test("power-sum corr/covar match built-in corr/covar_samp to 1e-3") {
    val ours = ops.Statistics.corrRegr(spark, sf)
      .select("l_returnflag", "corr_qty_price", "covar_samp").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val builtin = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c"),
        covar_samp(col("l_quantity"), col("l_extendedprice")).as("cv")).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(ours.keySet === builtin.keySet)
    ours.foreach { case (k, (c, cv)) =>
      assert(math.abs(c - builtin(k)._1) < 1e-3, s"corr $k")
      assert(math.abs(cv - builtin(k)._2) / math.abs(builtin(k)._2) < 1e-3, s"covar $k")
    }
  }

  test("histogram buckets partition the table and bounds nest in bucket range") {
    val total = Tables.lineitem(spark, sf).count()
    val h = ops.Statistics.histogram(spark, sf).collect()
    assert(h.map(_.getLong(1)).sum === total)
    h.foreach { r =>
      val b = r.getInt(0); val lo = r.getDouble(2); val hi = r.getDouble(3)
      assert(lo >= b * 5000.0 && hi < (b + 1) * 5000.0 && lo <= hi)
    }
  }

  test("UDAF weighted mean matches the expression-level formulation") {
    val udafRes = ops.Statistics.weightedAvgUdaf(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exprRes = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("pc"),
        floor(col("l_quantity")).cast("long").as("q"))
      .groupBy("l_returnflag")
      .agg(round((sum("pc") / 100.0) / sum("q"), 4).as("w")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(udafRes === exprRes)
  }

  test("hash sample is deterministic and near the 1a/100 fraction") {
    val a = ops.Relational.hashSample(spark, sf).collect().map(_.getLong(0)).toSeq
    val b = ops.Relational.hashSample(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(a === b)
    val total = Tables.orders(spark, sf).count().toDouble
    val frac = a.size / total
    assert(frac > 0.05 && frac < 0.16, s"fraction $frac")
  }

  test("bucketed KS prefix decomposition equals the naive single-window ECDF") {
    import org.apache.spark.sql.expressions.Window
    val r = ops.Statistics.ksDrift(spark, sf).collect()
    assert(r.length === 1)
    val (n1, n2, dScaled, atValue, ks) =
      (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2), r(0).getDouble(3), r(0).getDouble(4))
    // naive reference: one global cumulative window over distinct values
    val ev = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "view"))
      .groupBy("value")
      .agg(sum((col("event_type") === "click").cast("long")).as("c1"),
        sum((col("event_type") === "view").cast("long")).as("c2"))
    val w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rows = ev.select(col("value"), sum("c1").over(w).as("cum1"), sum("c2").over(w).as("cum2"))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    val (nn1, nn2) = (rows.map(_._2).max, rows.map(_._3).max)
    val gaps = rows.map { case (v, a, b) => (v, math.abs(a * nn2 - b * nn1)) }
    val dRef = gaps.map(_._2).max
    assert(n1 === nn1 && n2 === nn2)
    assert(dScaled === dRef)
    assert(atValue === gaps.filter(_._2 == dRef).map(_._1).min)
    assert(ks >= 0.0 && ks <= 1.0)
  }

  test("MAD outlier gate matches a direct recomputation and the 3-sigma-equivalent law") {
    val out = ops.Statistics.outlierMad(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (mad, thr, nOut, n) =
        (r.getDouble(3), r.getDouble(4), r.getLong(5), r.getLong(1))
      // thr = (3.0·1.4826)·mad is the exact expression the operator
      // evaluates (left-associated IEEE ops), so equality is BITWISE
      assert(thr === 3.0 * 1.4826 * mad)
      assert(nOut >= 0 && nOut < n, "outliers must be a strict minority")
    }
    // direct recount for one event type, in the same raw-double domain
    // the operator uses (dev = |value − med|, gate dev > thr — both
    // single IEEE ops, so the recount must agree EXACTLY)
    val first = out(0)
    val (t, med, thr) = (first.getString(0), first.getDouble(2), first.getDouble(4))
    val recount = Tables.events(spark, sf)
      .filter(col("event_type") === t && col("value").isNotNull)
      .filter(abs(col("value") - lit(med)) > lit(thr)).count()
    assert(recount === first.getLong(5))
  }

  test("winsorized mean sits inside [p05, p95] and between raw-mean pulls") {
    ops.Statistics.winsorize(spark, sf).collect().foreach { r =>
      val (p05, p95, meanW) = (r.getDouble(2), r.getDouble(3), r.getDouble(5))
      assert(p05 <= p95)
      assert(meanW >= p05 - 1e-9 && meanW <= p95 + 1e-9,
        s"winsorized mean $meanW outside [$p05, $p95]")
    }
  }

  test("chi-square drift: contributions are non-negative, total them, df = k-1") {
    val rows = ops.Statistics.chisqDrift(spark, sf).collect()
    assert(rows.nonEmpty)
    val chi2 = rows.head.getDouble(4)
    assert(rows.forall(_.getDouble(4) == chi2), "total repeated on every row")
    rows.foreach(r => assert(r.getDouble(3) >= 0.0, s"negative cell contribution: $r"))
    assert(math.abs(rows.map(_.getDouble(3)).sum - chi2) < 1e-6)
    assert(rows.forall(_.getLong(5) == rows.length - 1), "df = k - 1")
    // both halves of the split are populated (the statistic is undefined otherwise)
    assert(rows.map(_.getLong(1)).sum > 0 && rows.map(_.getLong(2)).sum > 0)
  }

  test("PSI drift: non-negative total, per-bin contributions total it, counts conserve") {
    val rows = ops.Statistics.psiDrift(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= ops.Statistics.PsiBins)
    val psi = rows.head.getDouble(4)
    assert(rows.forall(_.getDouble(4) == psi), "total repeated on every row")
    // PSI = sum over bins of (p-q)ln(p/q); each term has matching signs, so
    // every contribution (and the total) is >= 0 up to the 6-dp quantization
    rows.foreach(r => assert(r.getDouble(3) >= -1e-6, s"negative PSI term: $r"))
    assert(psi >= 0.0)
    assert(math.abs(rows.map(_.getDouble(3)).sum - psi) < 1e-6)
    val n = Tables.events(spark, sf).count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum === n, "bins partition the stream")
  }

  test("Mann-Whitney: U identity, bounds, and the bucketed ranks equal a naive single window") {
    val r = ops.Statistics.mannWhitney(spark, sf).collect().head
    val (n1, n2, u1x2, u2x2, tieT) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(u1x2 + u2x2 === 2 * n1 * n2, "U1 + U2 = n1*n2")
    assert(u1x2 >= 0 && u1x2 <= 2 * n1 * n2, "U1 in range")
    assert(tieT >= 0, "tie term non-negative")
    // the two-phase bucketed prefix must equal the naive unpartitioned
    // window (the q_ks_drift decomposition law, applied to rank sums)
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "view") && col("value").isNotNull)
      .groupBy("value")
      .agg(sum((col("event_type") === "click").cast("long")).as("c1"),
        sum((col("event_type") === "view").cast("long")).as("c2"))
    val w = Window.orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = col("c1") + col("c2")
    val naive = ev.withColumn("prev", sum(c).over(w) - c)
      .agg(sum(col("c1") * (lit(2) * col("prev") + c + lit(1))).as("r1x2"))
      .collect().head.getLong(0)
    assert(u1x2 === naive - n1 * (n1 + 1), "bucketed 2R1 equals naive window")
  }

  test("contingency association: df law, chi2 identity, V in [0,1]") {
    val r = ops.Statistics.contingencyAssoc(spark, sf).collect().head
    val (n, nr, nc, df, chi2, v) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getDouble(4), r.getDouble(5))
    assert(df === (nr - 1) * (nc - 1))
    assert(chi2 >= 0.0 && v >= 0.0 && v <= 1.0 + 1e-9)
    assert(n === Tables.documents(spark, sf).count())
    // independent identity: chi2 = n * (sum over cells o^2/(r*c) - 1)
    val cells = Tables.documents(spark, sf).groupBy("source", "lang")
      .agg(count(lit(1)).as("o"))
    val rw = cells.groupBy("source").agg(sum("o").as("r"))
    val cl = cells.groupBy("lang").agg(sum("o").as("c"))
    val alt = cells.join(rw, "source").join(cl, "lang")
      .agg(sum(col("o").cast("double") * col("o") / (col("r") * col("c"))))
      .collect().head.getDouble(0)
    assert(math.abs(chi2 - n * (alt - 1.0)) < 1e-3,
      s"chi2 $chi2 vs identity ${n * (alt - 1.0)}")
  }

  test("Welch t-test: sign law, df bounds, and agreement with built-in avg/var_samp") {
    val r = ops.Statistics.abTtest(spark, sf).collect().head
    val (n1, n2, meanDiff, t, df) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(math.signum(t) === math.signum(meanDiff), "t carries mean_diff's sign")
    assert(df >= math.min(n1, n2) - 1.0 - 1e-6 && df <= n1 + n2 - 2.0 + 1e-6,
      s"Welch df $df outside [min(n)-1, n1+n2-2]")
    // independent recompute from Spark's built-in estimators
    val g = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "view") && col("value").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), avg("value").as("m"), var_samp("value").as("v"))
      .collect().map(x => x.getString(0) -> ((x.getLong(1), x.getDouble(2), x.getDouble(3)))).toMap
    val (cn, cm, cv) = g("click"); val (vn, vm, vv) = g("view")
    val se = cv / cn + vv / vn
    assert(math.abs(t - (cm - vm) / math.sqrt(se)) < 1e-3)
    assert(math.abs(df - se * se / (math.pow(cv / cn, 2) / (cn - 1) + math.pow(vv / vn, 2) / (vn - 1))) < 1e-3)
  }

  test("Benford audit: digits 1-9 partition the rows, both frequency columns sum to 1") {
    val rows = ops.Statistics.benford(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSet.subsetOf((1 to 9).toSet))
    assert(rows.map(_.getLong(1)).sum === Tables.lineitem(spark, sf).count(),
      "every positive price contributes exactly one leading digit")
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-4, "observed freqs sum to 1")
    // the Benford reference masses must sum to 1 when all 9 digits appear
    if (rows.length == 9)
      assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-4)
    rows.foreach(r => assert(math.abs(r.getDouble(4) - (r.getDouble(2) - r.getDouble(3))) < 1e-9))
  }

  test("CUSUM change point: the reported maximum matches a replayed curve") {
    val r = ops.Statistics.cusumDrift(spark, sf).collect().head
    val (nDays, cpDay, sScaled, sMax) =
      (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))
    // replay the scaled curve single-threaded from the daily totals
    val daily = Tables.events(spark, sf).filter(col("value").isNotNull)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1000000 + lit(0.5)).cast("long")).as("x"))
      .orderBy("day").collect()
      .map(row => (row.getDate(0).toString, row.getLong(1)))
    assert(nDays === daily.length.toLong)
    val total = daily.map(_._2).sum
    var cum = 0L
    val curve = daily.zipWithIndex.map { case ((day, x), i) =>
      cum += x
      (day, nDays * cum - (i + 1).toLong * total)
    }
    val maxAbs = curve.map(c => math.abs(c._2)).max
    val firstAtMax = curve.filter(c => math.abs(c._2) == maxAbs).minBy(_._1)
    assert(cpDay === firstAtMax._1, "earliest-day tiebreak at the argmax")
    assert(sScaled === firstAtMax._2)
    assert(math.abs(sMax - maxAbs.toDouble / (nDays * 1e6)) < 1e-6)
  }

  test("autocorr: r1 bounded and equal to an exact BigInt replay per type") {
    val rows = ops.Statistics.autocorr(spark, sf).collect()
    assert(rows.nonEmpty)
    val daily = Tables.events(spark, sf).filter(col("value").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1000000 + lit(0.5)).cast("long")).as("x"))
      .orderBy("event_type", "day").collect()
      .map(row => (row.getString(0), row.getDate(1).toString, row.getLong(2)))
    rows.foreach { r =>
      val (tpe, nDays, r1) = (r.getString(0), r.getLong(1), r.getDouble(2))
      assert(r1 >= -1.0 - 1e-6 && r1 <= 1.0 + 1e-6, s"$tpe: r1 $r1 out of bounds")
      val xs = daily.filter(_._1 == tpe).map(_._3)
      assert(nDays === xs.length.toLong)
      val tot = xs.map(BigInt(_)).sum
      val ys = xs.map(x => BigInt(nDays) * BigInt(x) - tot)
      val num = ys.zip(ys.drop(1)).map { case (a, b) => a * b }.sum
      val den = ys.map(y => y * y).sum
      val expect = num.toDouble / den.toDouble
      assert(math.abs(r1 - expect) < 5e-7 + 1e-9, s"$tpe: r1 $r1 vs replay $expect")
    }
  }

  test("IQR outliers: quartile order, discrete-rank replay, and fence count replay") {
    val rows = ops.Statistics.iqrOutlier(spark, sf).collect()
    assert(rows.nonEmpty)
    val byType = Tables.events(spark, sf).filter(col("value").isNotNull)
      .select("event_type", "value").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    rows.foreach { r =>
      val (tpe, n, q1, q3, iqr, nOut) = (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5))
      val vs = byType(tpe)
      assert(n === vs.length.toLong)
      assert(q1 <= q3 && math.abs(iqr - (q3 - q1)) < 1e-12)
      // percentile_disc replay: value at rank ceil(n/4), ceil(3n/4)
      val e1 = vs(((n + 3) / 4 - 1).toInt)
      val e3 = vs(((3 * n + 3) / 4 - 1).toInt)
      assert(q1 === e1, s"$tpe q1")
      assert(q3 === e3, s"$tpe q3")
      val lo = q1 - 1.5 * (q3 - q1)
      val hi = q3 + 1.5 * (q3 - q1)
      assert(nOut === vs.count(v => v < lo || v > hi).toLong, s"$tpe outlier count")
    }
  }

  test("composed drift report is cell-identical to its three standalone monitors") {
    val rep = ops.Statistics.driftReport(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rep.keySet === Set("chisq", "ks", "psi"))
    // the report shares the monitors' arithmetic helpers, so equality must
    // be EXACT — any tolerance here would mask a divergence in composition
    val chi = ops.Statistics.chisqDrift(spark, sf).collect()
    assert(rep("chisq") === ((chi.map(_.getLong(1)).sum, chi.map(_.getLong(2)).sum,
      chi.head.getDouble(4))))
    val ks = ops.Statistics.ksDrift(spark, sf).collect().head
    assert(rep("ks") === ((ks.getLong(0), ks.getLong(1), ks.getDouble(4))))
    val psi = ops.Statistics.psiDrift(spark, sf).collect()
    assert(rep("psi") === ((psi.map(_.getLong(1)).sum, psi.map(_.getLong(2)).sum,
      psi.head.getDouble(4))))
  }

  test("mutual information: information-theory laws and brute-force agreement") {
    val r = ops.Statistics.mutualInfo(spark, sf).collect().head
    val (mi, hl, hs, nmi) =
      (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
    // MI >= 0 and MI <= min(H) up to the 1e-6 log quantization
    assert(mi >= -1e-5 && mi <= math.min(hl, hs) + 1e-5)
    assert(nmi >= -1e-5 && nmi <= 1.0 + 1e-5)
    // brute-force from the raw contingency table
    val cells = Tables.documents(spark, sf).groupBy("lang", "source").count()
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2)))
    val n = cells.map(_._3).sum.toDouble
    def h(counts: Iterable[Long]): Double =
      counts.map { c => val p = c / n; -p * math.log(p) / math.log(2) }.sum
    val hLang = h(cells.groupBy(_._1).map(_._2.map(_._3).sum))
    val hSrc = h(cells.groupBy(_._2).map(_._2.map(_._3).sum))
    val hJoint = h(cells.map(_._3))
    val bruteMi = hLang + hSrc - hJoint
    assert(math.abs(mi - bruteMi) < 1e-3, s"MI $mi vs brute $bruteMi")
    assert(math.abs(hl - hLang) < 1e-3 && math.abs(hs - hSrc) < 1e-3)
  }

  test("spearman: in [-1,1] and matches Pearson over midranks computed directly") {
    val rows = ops.Statistics.spearman(spark, sf).collect()
    assert(rows.nonEmpty)
    val li = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_quantity", "l_extendedprice").collect()
      .map(x => (x.getString(0), x.getDouble(1), x.getDouble(2)))
    rows.foreach { r =>
      val flag = r.getString(0); val rho = r.getDouble(2)
      assert(rho >= -1.0 && rho <= 1.0)
      val g = li.filter(_._1 == flag)
      def midranks(vs: Array[Double]): Map[Double, Double] = {
        val sorted = vs.groupBy(identity).toSeq.sortBy(_._1)
        var prev = 0L
        sorted.map { case (v, g0) =>
          val mr = prev + (g0.length + 1) / 2.0
          prev += g0.length
          v -> mr
        }.toMap
      }
      val mx = midranks(g.map(_._2)); val my = midranks(g.map(_._3))
      val xs = g.map(p => mx(p._2)); val ys = g.map(p => my(p._3))
      val nn = xs.length
      val mxm = xs.sum / nn; val mym = ys.sum / nn
      val cov = xs.zip(ys).map { case (a, b) => (a - mxm) * (b - mym) }.sum
      val vx = xs.map(a => (a - mxm) * (a - mxm)).sum
      val vy = ys.map(b => (b - mym) * (b - mym)).sum
      val brute = cov / math.sqrt(vx * vy)
      assert(math.abs(rho - brute) < 1e-6, s"rho $flag: $rho vs $brute")
    }
  }

  test("Gini replays the per-row rank formula and sits in [0, 1)") {
    val got = ops.Statistics.gini(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toList
    assert(got.nonEmpty)
    val vals = Tables.events(spark, sf)
      .filter(col("value").isNotNull && col("value") >= 0)
      .select(col("event_type"),
        (col("value").cast("decimal(24,6)") * lit(1000000)).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sorted }
    got.foreach { case (t, n, g) =>
      val x = vals(t)
      assert(n === x.length.toLong)
      val sx = x.map(BigInt(_)).sum
      val wsum = x.zipWithIndex.map { case (v, i) =>
        BigInt(v) * (2L * (i + 1) - x.length - 1) }.sum
      val brute = wsum.toDouble / (BigInt(x.length) * sx).toDouble
      assert(math.abs(g - brute) < 1e-5, s"gini $t: $g vs $brute")
      assert(g >= 0.0 && g < 1.0)
    }
  }

  test("capture-recapture: set identities and Chapman replay") {
    val r = ops.Statistics.captureRecapture(spark, sf).collect()
    assert(r.length === 1)
    val row = r.head
    val (n1, n2, m, obs, nHat) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
    assert(m <= math.min(n1, n2), "overlap bounded by both occasions")
    assert(obs === n1 + n2 - m, "inclusion-exclusion over the two halves")
    assert(nHat === ((n1 + 1) * (n2 + 1)) / (m + 1) - 1, "Chapman formula")
    assert(row.getDouble(5) > 0.0 && row.getDouble(5) <= 1.0 + 1e-9,
      "coverage is a valid ratio when the estimator is sane on this fixture")
  }

  test("Kaplan-Meier: risk set and survival are non-increasing, factors replay") {
    val rows = ops.Statistics.kaplanMeier(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(5)) 0.0 else r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.sliding(2).foreach {
      case Array((d1, n1, _, _, s1), (d2, n2, _, _, s2)) =>
        assert(d1 < d2, "distinct durations ascend")
        assert(n2 <= n1, "risk set shrinks")
        assert(s2 <= s1 + 1e-9, "survival never rises")
      case _ =>
    }
    // replay the product estimator in plain doubles
    var prod = 1.0
    rows.foreach { case (_, n, d, _, s) =>
      prod *= (n - d).toDouble / n
      assert(math.abs(s - prod) < 1e-3, s"S vs brute: $s $prod")
      assert(d >= 1, "only death times emitted")
    }
  }

  test("one-way ANOVA F replays the naive double computation; eta2 valid") {
    val r = ops.Statistics.anovaF(spark, sf).collect()
    assert(r.length === 1)
    val row = r.head
    val (k, n, df1, df2, f, eta2) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getDouble(4), row.getDouble(5))
    assert(df1 === k - 1 && df2 === n - k)
    assert(eta2 >= 0.0 && eta2 <= 1.0)
    // brute: plain-double SS decomposition over the collected fixture
    val vals = Tables.events(spark, sf).filter(col("value").isNotNull)
      .select("event_type", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    val grand = vals.map(_._2).sum / vals.length
    val groups = vals.groupBy(_._1).values
    val ssb = groups.map { g =>
      val m = g.map(_._2).sum / g.length; g.length * (m - grand) * (m - grand)
    }.sum
    val ssw = groups.map { g =>
      val m = g.map(_._2).sum / g.length; g.map(v => (v._2 - m) * (v._2 - m)).sum
    }.sum
    val brute = (ssb / df1) / (ssw / df2)
    assert(math.abs(f - brute) / brute < 1e-2, s"F $f vs brute $brute")
  }

  test("Levene/Brown-Forsythe W replays the naive double computation") {
    val row = ops.Statistics.levene(spark, sf).collect().head
    val (k, n, df1, df2, w) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getDouble(4))
    assert(df1 === k - 1 && df2 === n - k)
    // brute: |v - group median| deviations, then one-way F in doubles
    val vals = Tables.events(spark, sf).filter(col("value").isNotNull)
      .select("event_type", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    def median(xs: Array[Double]): Double = {
      val s = xs.sorted; val m = s.length
      (s((m + 1) / 2 - 1) + s((m + 2) / 2 - 1)) / 2.0
    }
    val devs = vals.groupBy(_._1).toSeq.flatMap { case (t, g) =>
      val med = median(g.map(_._2))
      g.map(v => t -> math.abs(v._2 - med))
    }
    val grand = devs.map(_._2).sum / devs.length
    val groups = devs.groupBy(_._1).values
    val ssb = groups.map { g =>
      val m = g.map(_._2).sum / g.length; g.length * (m - grand) * (m - grand)
    }.sum
    val ssw = groups.map { g =>
      val m = g.map(_._2).sum / g.length; g.map(v => (v._2 - m) * (v._2 - m)).sum
    }.sum
    val brute = (ssb / df1) / (ssw / df2)
    assert(math.abs(w - brute) / math.max(brute, 1e-9) < 2e-2, s"W $w vs brute $brute")
  }

  test("EMD drift: nonneg, bounded by range, dominates the mean shift") {
    val row = ops.Statistics.emdDrift(spark, sf).collect().head
    val emd = row.getDouble(2)
    val stats = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "view") && col("value").isNotNull)
      .groupBy("event_type").agg(avg("value").as("m"),
        max("value").as("hi"), min("value").as("lo")).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val range = math.max(stats("click")._2, stats("view")._2) -
      math.min(stats("click")._3, stats("view")._3)
    val meanShift = math.abs(stats("click")._1 - stats("view")._1)
    assert(emd >= 0.0 && emd <= range + 1e-6)
    // W1 between two distributions is >= |mu1 - mu2| (Jensen); quantization
    // slack of one 6-dp quantum per segment
    assert(emd >= meanShift - 1e-3, s"emd $emd < mean shift $meanShift")
  }

  test("Theil T: nonneg, bounded by ln(n), tracks the naive double replay") {
    ops.Statistics.theilIndex(spark, sf).collect().foreach { row =>
      val (seg, n, t) = (row.getString(0), row.getLong(1), row.getDouble(2))
      assert(t >= -1e-6 && t <= math.log(n.toDouble) + 1e-6, s"$seg: $t")
    }
    // brute replay on the largest segment (floor-truncated shares bias the
    // engine value DOWN by < 1e-6 * sum|ln n p| — loose tolerance)
    val spend = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "o_custkey").agg(sum("o_totalprice").as("x"))
      .collect().map(r => (r.getString(0), r.getDouble(2)))
    spend.groupBy(_._1).foreach { case (seg, xs) =>
      val tot = xs.map(_._2).sum; val n = xs.length
      val brute = xs.map { case (_, x) =>
        val p = x / tot; p * math.log(n * p)
      }.sum
      val got = ops.Statistics.theilIndex(spark, sf).collect()
        .find(_.getString(0) == seg).get.getDouble(2)
      assert(math.abs(got - brute) < 5e-3, s"$seg: $got vs $brute")
    }
  }

  test("weighted median: rank rule replayed brute-force per flag") {
    val li = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getString(0), r.getDouble(1),
        BigDecimal(r.getDouble(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .*(BigDecimal(1000000)).toLongExact))
    val got = ops.Statistics.weightedMedian(spark, sf).collect()
    li.groupBy(_._1).foreach { case (flag, xs) =>
      val byQ = xs.groupBy(_._2).view.mapValues(_.map(_._3).sum).toSeq.sortBy(_._1)
      val w = byQ.map(_._2).sum
      var cum = 0L; var lo = Double.NaN; var up = Double.NaN
      byQ.foreach { case (q, wt) =>
        val prev = cum; cum += wt
        if (2 * prev < w && w <= 2 * cum && lo.isNaN) lo = q
        if (2 * prev <= w && w < 2 * cum && up.isNaN) up = q
      }
      val expect = (lo + up) * 0.5
      val row = got.find(_.getString(0) == flag).get
      assert(row.getLong(1) === w, s"$flag total weight")
      assert(row.getDouble(2) === expect, s"$flag wmedian")
    }
  }

  /** Shared brute fixture for the rank/series trio: per-type daily event
    * counts in day order, replayed driver-side from the same table. */
  private def dailyCounts(types: String => Boolean): Map[String, Seq[Long]] =
    Tables.events(spark, sf)
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .filter(t => types(t._1))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap

  test("Kendall tau-b: pair-vote replay, bounds, and pair accounting") {
    val row = ops.Statistics.kendallTau(spark, sf).collect().head
    val (n0, conc, disc, tc, tv) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getLong(4))
    val tau = row.getDouble(5)
    val daily = dailyCounts(Set("click", "view"))
    // rebuild the joint (c, v) daily series: the query counts both types
    // in ONE day grid, so replay from per-day click/view pairs
    val days = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "view"))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum((col("event_type") === "click").cast("long")).as("c"),
        sum((col("event_type") === "view").cast("long")).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val pairs = for (i <- days.indices; j <- (i + 1) until days.length)
      yield (days(i), days(j))
    val bc = pairs.count { case (a, b) =>
      (a._2 - b._2) * (a._3 - b._3) > 0 && a._2 != b._2 && a._3 != b._3 }
    val bd = pairs.count { case (a, b) =>
      ((a._2 - b._2) > 0 && (a._3 - b._3) < 0) ||
        ((a._2 - b._2) < 0 && (a._3 - b._3) > 0) }
    val btc = pairs.count { case (a, b) => a._2 == b._2 }
    val btv = pairs.count { case (a, b) => a._3 == b._3 }
    assert(n0 === pairs.length && conc === bc && disc === bd &&
      tc === btc && tv === btv)
    val brute = (bc - bd).toDouble /
      (math.sqrt((pairs.length - btc).toDouble) * math.sqrt((pairs.length - btv).toDouble))
    assert(math.abs(tau - brute) < 1e-5, s"tau $tau vs brute $brute")
    assert(tau >= -1.0 && tau <= 1.0)
    assert(daily.nonEmpty) // fixture sanity: both types present
  }

  test("runs test: run-count replay and the Wald-Wolfowitz mean law") {
    val daily = dailyCounts(_ => true)
    val got = ops.Statistics.runsTest(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    daily.foreach { case (t, series) =>
      val sgn = series.sliding(2).collect {
        case Seq(a, b) if b != a => if (b > a) 1 else -1
      }.toSeq
      val npos = sgn.count(_ > 0); val nneg = sgn.count(_ < 0)
      val runs = if (sgn.isEmpty) 0
        else 1 + sgn.sliding(2).count { case Seq(a, b) => a != b; case _ => false }
      if (npos > 0 && nneg > 0 && npos + nneg > 1) {
        val row = got(t)
        assert(row.getLong(1) === npos.toLong, s"$t npos")
        assert(row.getLong(2) === nneg.toLong, s"$t nneg")
        assert(row.getLong(3) === runs.toLong, s"$t runs")
        val mu = 2.0 * npos * nneg / (npos + nneg) + 1.0
        assert(math.abs(row.getDouble(4) - mu) < 1e-5, s"$t mu")
        // mean law: 1 <= mu <= n (the run count's own hard bounds)
        assert(mu >= 1.0 && mu <= (npos + nneg).toDouble + 1e-9)
      }
    }
  }

  test("Friedman chi2 + Kendall W replay the within-day midrank computation") {
    val row = ops.Statistics.friedman(spark, sf).collect().head
    val (k, nDays, df, chi2, w) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getDouble(3), row.getDouble(4))
    assert(df === k - 1)
    assert(chi2 >= -1e-9 && w >= -1e-9 && w <= 1.0 + 1e-9)
    // coupling law: chi2 = W * n * (k - 1) by construction
    assert(math.abs(chi2 - w * nDays * (k - 1)) < 1e-3, "chi2/W coupling")
    // brute: complete the grid, midrank within day, plain-double chi2
    val daily = Tables.events(spark, sf)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val days = daily.map(_._1).distinct.sorted
    val types = daily.map(_._2).distinct.sorted
    assert(k === types.length.toLong && nDays === days.length.toLong)
    val cell = daily.map(t => (t._1, t._2) -> t._3).toMap
    val ranks = days.flatMap { dy =>
      val xs = types.map(t => t -> cell.getOrElse((dy, t), 0L))
      val rankOf = xs.map(_._2).sorted.zipWithIndex.groupBy(_._1).view
        .mapValues(g => g.map(_._2 + 1).sum.toDouble / g.length).toMap
      xs.map { case (t, x) => (t, rankOf(x)) }
    }
    val n = days.length.toDouble; val kd = types.length.toDouble
    val rj = ranks.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val num = (kd - 1) * types.map(t => math.pow(rj(t) - n * (kd + 1) / 2, 2)).sum
    val den = ranks.map(r => r._2 * r._2).sum - n * kd * (kd + 1) * (kd + 1) / 4
    val brute = num / den
    assert(math.abs(chi2 - brute) < 1e-3, s"chi2 $chi2 vs brute $brute")
  }

  test("Kruskal-Wallis H replays the naive midrank computation; laws hold") {
    val row = ops.Statistics.kruskalWallis(spark, sf).collect().head
    val (k, n, tieT, df, h) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getDouble(4))
    assert(df === k - 1)
    assert(h >= -1e-9, s"H negative: $h")
    // brute: pool all values, midrank with ties, plain-double H
    val vals = Tables.events(spark, sf).filter(col("value").isNotNull)
      .select("event_type", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    assert(n === vals.length.toLong)
    val sorted = vals.map(_._2).sorted
    val rankOf = sorted.zipWithIndex.groupBy(_._1).view
      .mapValues(g => g.map(_._2 + 1).sum.toDouble / g.length).toMap
    val groups = vals.groupBy(_._1)
    assert(k === groups.size.toLong)
    val bigN = vals.length.toDouble
    val sumR2 = groups.values.map { g =>
      val r = g.map(v => rankOf(v._2)).sum; r * r / g.length
    }.sum
    val h0 = 12.0 / (bigN * (bigN + 1)) * sumR2 - 3.0 * (bigN + 1)
    val tie = sorted.groupBy(identity).values
      .map(g => g.length.toDouble).map(c => c * c * c - c).sum
    assert(tieT === tie.toLong)
    val brute = h0 / (1.0 - tie / (bigN * bigN * bigN - bigN))
    assert(math.abs(h - brute) / math.max(brute, 1e-9) < 1e-2,
      s"H $h vs brute $brute")
  }

  test("Mann-Kendall: S and var18 replay exactly; Sen slope is the pair-slope median") {
    val daily = dailyCounts(_ => true)
    val got = ops.Statistics.mannKendall(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    daily.foreach { case (t, series) =>
      val pairs = for (i <- series.indices; j <- (i + 1) until series.length)
        yield (i + 1, j + 1, series(i), series(j))
      val s = pairs.map { case (_, _, x1, x2) => (x2 compare x1).sign.toLong }.sum
      val nd = series.length.toLong
      val tie18 = series.groupBy(identity).values
        .map(g => g.length.toLong).map(c => c * (c - 1) * (2 * c + 5)).sum
      val var18 = nd * (nd - 1) * (2 * nd + 5) - tie18
      val slopes = pairs.map { case (i1, i2, x1, x2) =>
        (x2 - x1).toDouble / (i2 - i1).toDouble }.sorted
      val m = slopes.length
      val sen = (slopes((m + 1) / 2 - 1) + slopes((m + 2) / 2 - 1)) * 0.5
      val row = got(t)
      assert(row.getLong(1) === nd, s"$t n_days")
      assert(row.getLong(2) === s, s"$t S")
      assert(row.getLong(3) === var18, s"$t var18")
      assert(row.getDouble(5) === sen, s"$t sen slope")
      if (s != 0) {
        val z = row.getDouble(4)
        val brute = (s - s.sign).toDouble / math.sqrt(var18.toDouble / 18.0)
        assert(math.abs(z - brute) < 1e-5, s"$t z $z vs $brute")
      }
    }
  }

  test("CvM drift replays the exact scaled-gap sum; nonneg and KS-consistent") {
    val row = ops.Statistics.cvmDrift(spark, sf).collect().head
    val (n1, n2, nVals, cvm) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getDouble(3))
    assert(cvm >= 0.0)
    val vals = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "view") && col("value").isNotNull)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val byV = vals.groupBy(_._2).view.mapValues { g =>
      (g.count(_._1 == "click").toLong, g.count(_._1 == "view").toLong)
    }.toSeq.sortBy(_._1)
    assert(nVals === byV.length.toLong)
    val (bn1, bn2) = (byV.map(_._2._1).sum, byV.map(_._2._2).sum)
    assert(n1 === bn1 && n2 === bn2)
    var c1 = BigInt(0); var c2 = BigInt(0); var t = BigInt(0)
    byV.foreach { case (_, (a, b)) =>
      c1 += a; c2 += b
      val gap = c1 * bn2 - c2 * bn1
      t += BigInt(a + b) * gap * gap
    }
    val n = BigInt(bn1 + bn2)
    val brute = t.toDouble / (n * n * bn1 * bn2).toDouble
    assert(math.abs(cvm - brute) < 1e-5, s"cvm $cvm vs brute $brute")
  }

  test("permutation entropy: pattern replay, bounds [0, ln 6]") {
    val daily = dailyCounts(_ => true)
    val got = ops.Statistics.permEntropy(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    daily.foreach { case (t, series) =>
      if (series.length >= 3) {
        val pats = series.sliding(3).collect { case Seq(x1, x2, x3) =>
          (if (x1 > x2) 4 else 0) + (if (x1 > x3) 2 else 0) + (if (x2 > x3) 1 else 0)
        }.toSeq
        val n = pats.length
        val brute = -pats.groupBy(identity).values.map { g =>
          val p = g.length.toDouble / n; p * math.log(p)
        }.sum
        val row = got(t)
        assert(row.getLong(1) === n.toLong, s"$t n_triples")
        assert(row.getLong(2) === pats.distinct.length.toLong, s"$t n_patterns")
        val h = row.getDouble(3)
        assert(math.abs(h - brute) < 1e-4, s"$t H $h vs brute $brute")
        assert(h >= -1e-9 && h <= math.log(6.0) + 1e-9)
      }
    }
  }

  test("Jarque-Bera: moments track built-in skewness/kurtosis; JB recomposes") {
    val got = ops.Statistics.jarqueBera(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val builtin = Tables.events(spark, sf).filter(col("value").isNotNull)
      .groupBy("event_type")
      .agg(skewness(col("value")).as("sk"), kurtosis(col("value")).as("ku"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.keySet === builtin.keySet)
    got.foreach { case (t, r) =>
      val n = r.getLong(1); val sk = r.getDouble(2)
      val ku = r.getDouble(3); val jb = r.getDouble(4)
      // built-in skewness is population g1; built-in kurtosis is EXCESS g2-3.
      // milli-unit deviation quantization bounds the drift well inside 1e-2.
      assert(math.abs(sk - builtin(t)._1) < 1e-2, s"$t skew")
      assert(math.abs((ku - 3.0) - builtin(t)._2) < 1e-2, s"$t kurt")
      val recomposed = n / 6.0 * (sk * sk + (ku - 3.0) * (ku - 3.0) / 4.0)
      assert(jb >= 0.0 && math.abs(jb - recomposed) < math.max(1e-4, recomposed * 1e-4),
        s"$t jb $jb vs $recomposed")
    }
  }

  test("Ljung-Box: r1 equals q_autocorr's r1 exactly; Q recomposes, nonneg") {
    val lb = ops.Statistics.ljungBox(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val ac = ops.Statistics.autocorr(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(lb.nonEmpty)
    lb.foreach { case (t, r) =>
      val nd = r.getLong(1).toDouble
      val (r1, r2, r3, q) = (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      Seq(r1, r2, r3).foreach(x => assert(math.abs(x) <= 1.0 + 1e-9, s"$t |r|"))
      // same integer y-series, same quantization, different rounding of the
      // division input (round vs floor-quantize at 6 dp agree off-ties)
      assert(math.abs(r1 - ac(t)) <= 1e-6, s"$t r1 vs autocorr")
      val recomposed = nd * (nd + 2.0) *
        (r1 * r1 / (nd - 1.0) + r2 * r2 / (nd - 2.0) + r3 * r3 / (nd - 3.0))
      assert(q >= 0.0 && math.abs(q - recomposed) < 1e-4, s"$t Q")
    }
  }

  test("Nelson-Aalen: increments replay, H nondecreasing, bounded by -log S") {
    val na = ops.Statistics.nelsonAalen(spark, sf).collect()
    assert(na.nonEmpty)
    var prevH = 0.0
    na.foreach { r =>
      val (nRisk, d) = (r.getLong(1), r.getLong(2))
      val (hInc, h, v) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(math.abs(hInc - d.toDouble / nRisk) < 1e-8, "h_inc replay")
      assert(h >= prevH - 1e-12, "H must be nondecreasing")
      assert(v >= 0.0 && v <= h + 1e-12, "var <= H (d/n^2 <= d/n)")
      prevH = h
    }
    // -ln(1-x) >= x termwise, so KM's -log_surv dominates H where defined
    val km = ops.Statistics.kaplanMeier(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    na.foreach { r =>
      val k = km(r.getLong(0))
      if (!k.isNullAt(4)) {
        assert(-k.getDouble(4) >= r.getDouble(4) - 1e-6,
          s"dur ${r.getLong(0)}: -logS ${-k.getDouble(4)} < H ${r.getDouble(4)}")
      }
    }
  }

  test("Page-Hinkley: exact integer replay of the scaled statistic") {
    val row = ops.Statistics.pageHinkley(spark, sf).collect().head
    val daily = Tables.events(spark, sf).filter(col("value").isNotNull)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1000000 + lit(0.5)).cast("long")).as("x"))
      .orderBy("day").collect()
      .map(r => r.getDate(0).toString -> r.getLong(1))
    val nd = daily.length.toLong
    val tt = daily.map(_._2).sum
    var cum = 0L; var runmin = Long.MaxValue
    var best = Long.MinValue; var bestDay = ""
    daily.zipWithIndex.foreach { case ((day, x), i) =>
      val t = i + 1L
      cum += x
      val m = nd * cum - t * tt - t * nd * 50000L
      runmin = math.min(runmin, m)
      val ph = m - runmin
      if (ph > best) { best = ph; bestDay = day }
    }
    assert(row.getLong(0) === nd)
    assert(row.getString(1) === bestDay)
    assert(row.getLong(2) === best)
    assert(row.getDouble(3) >= 0.0)
    assert(row.getInt(4) === (if (best.toDouble > nd.toDouble * 1e6 * 5.0) 1 else 0))
  }

  test("spc xbar: integer gate replay, at most a fraction out of control") {
    val rows = ops.Statistics.spcXbar(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4), r.getInt(5)))
    assert(rows.nonEmpty)
    val m = rows.length.toLong
    val s2 = rows.map(r => BigInt(r._5) * r._5).sum
    val center = rows.head._3
    rows.foreach { case (day, _, c, xbar, dq, oob) =>
      assert(c === center, "one center line")
      // the milli deviation tracks the displayed (6-dp) mean to the
      // half-milli quantization slack
      assert(math.abs(dq - (xbar - c) * 1000.0) <= 1.0, s"$day deviation")
      assert(oob === (if (BigInt(dq) * dq * (m - 1) > s2 * 9) 1 else 0),
        s"$day gate replay")
    }
    // the 3-sigma gate can flag at most (m-1)/9 points (Chebyshev-like
    // bound from the gate algebra: each flagged dq^2 > 9*s2/(m-1))
    assert(rows.count(_._6 == 1) <= (m - 1) / 9 + 1)
  }

  test("sprt: daily LLR replay with pinned constants, exact running sum") {
    val rows = ops.Statistics.sprt(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getString(5))).sortBy(_._1)
    assert(rows.nonEmpty)
    var cum = BigDecimal(0)
    rows.foreach { case (_, x, m, llrDay, llrCum, decision) =>
      val brute = math.floor((x.toDouble * 0.200671 +
        (m - x).toDouble * -0.05001) * 1e6 + 0.5) / 1e6
      assert(llrDay === brute, "per-day LLR with pinned constants")
      cum += BigDecimal(llrDay)
      assert(math.abs(llrCum - cum.toDouble) < 1e-9, "exact running sum")
      val expect = if (llrCum >= 2.944439) "accept_h1"
      else if (llrCum <= -2.944439) "accept_h0" else "continue"
      assert(decision === expect)
      assert(x <= m)
    }
  }

  test("qq plot: discrete rank-selection replay, monotone per group") {
    val rows = ops.Statistics.qqPlot(spark, sf).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === (1 to 9))
    val vals = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "view") && col("value").isNotNull)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).groupBy(_._1)
      .map { case (g, xs) => g -> xs.map(_._2).sorted }
    rows.foreach { case (k, qc, qv, gap) =>
      val bc = vals("click")((k * vals("click").length + 9) / 10 - 1)
      val bv = vals("view")((k * vals("view").length + 9) / 10 - 1)
      assert(qc === bc && qv === bv, s"decile $k rank selection")
      assert(gap === qc - qv)
    }
    // quantiles are non-decreasing in the decile
    assert(rows.map(_._2).sliding(2).forall(p => p.head <= p.last))
    assert(rows.map(_._3).sliding(2).forall(p => p.head <= p.last))
  }

  test("mood median: pooled-median split replay, 2x2 chi2 algebra") {
    val row = ops.Statistics.moodMedian(spark, sf).collect().head
    val vals = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "view") && col("value").isNotNull)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val sorted = vals.map(_._2).sorted
    val n = sorted.length
    val med = (sorted((n + 1) / 2 - 1) + sorted((n + 2) / 2 - 1)) * 0.5
    assert(row.getAs[Double]("median") === med, "rank-selected pooled median")
    val a = vals.count(x => x._1 == "click" && x._2 > med).toLong
    val nc = vals.count(_._1 == "click").toLong
    val c = vals.count(x => x._1 == "view" && x._2 > med).toLong
    val nv = vals.count(_._1 == "view").toLong
    assert(row.getAs[Long]("n_click") === nc && row.getAs[Long]("gt_click") === a)
    assert(row.getAs[Long]("n_view") === nv && row.getAs[Long]("gt_view") === c)
    val b = nc - a; val dd = nv - c
    val det = BigInt(a) * dd - BigInt(b) * c
    val den = BigInt(nc) * nv * (a + c) * (b + dd)
    if (den != 0) {
      val brute = (BigInt(nc + nv) * det * det).toDouble / den.toDouble
      assert(math.abs(row.getAs[Double]("chi2") - brute) < 1e-5, "chi2 algebra")
      // median split bounds: at most half strictly above the pooled median
      assert(a + c <= (n + 1) / 2)
    } else assert(row.isNullAt(row.fieldIndex("chi2")))
  }

  test("two-proportion z: conversion replay, z sign matches the rate gap") {
    val row = ops.Statistics.twoPropZ(spark, sf).collect().head
    val conv = Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(max((col("event_type") === "purchase").cast("long")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n0 = conv.count(_._1 % 2 == 0).toLong
    val c0 = conv.filter(_._1 % 2 == 0).map(_._2).sum
    val n1 = conv.count(_._1 % 2 == 1).toLong
    val c1 = conv.filter(_._1 % 2 == 1).map(_._2).sum
    assert(row.getAs[Long]("n0") === n0 && row.getAs[Long]("c0") === c0)
    assert(row.getAs[Long]("n1") === n1 && row.getAs[Long]("c1") === c1)
    if (c0 + c1 > 0 && c0 + c1 < n0 + n1) {
      val z = row.getAs[Double]("z")
      val gap = c0.toDouble / n0 - c1.toDouble / n1
      assert(z.sign === gap.sign || gap == 0.0, "z sign follows the rate gap")
      val c = c0 + c1; val n = n0 + n1
      val brute = ((BigInt(c0) * n1 - BigInt(c1) * n0).toDouble /
        (BigInt(n0) * n1).toDouble) /
        math.sqrt((BigInt(c) * (n - c)).toDouble / (BigInt(n) * n0 * n1).toDouble)
      assert(math.abs(z - brute) < 1e-5, "z algebra")
    } else assert(row.isNullAt(row.fieldIndex("z")))
  }

  test("survival reductions: median/tail/RMST tie to the KM curve") {
    val km = ops.Statistics.kaplanMeier(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(5))).sortBy(_._1)
    val sm = ops.Statistics.survMedian(spark, sf).collect().head
    assert(sm.getAs[Long]("n_times") === km.length.toLong)
    assert(sm.getAs[Long]("n_deaths") === km.map(_._2).sum)
    val medBrute = km.find(_._3 <= 0.5).map(_._1)
    if (medBrute.isDefined)
      assert(sm.getAs[Long]("median_days") === medBrute.get)
    else assert(sm.isNullAt(sm.fieldIndex("median_days")))
    assert(sm.getAs[Double]("final_surv") === km.map(_._3).min)
    val rm = ops.Statistics.rmst(spark, sf).collect().head
    assert(rm.getAs[Long]("t_max") === km.map(_._1).max)
    // step-sum replay with the same per-segment quantization
    var prevS = 1.0; var prevT = 0L; var acc = BigDecimal(0)
    km.foreach { case (t, _, s) =>
      acc += BigDecimal(math.floor(prevS * (t - prevT) * 1e6 + 0.5) / 1e6)
      prevS = s; prevT = t
    }
    assert(math.abs(rm.getAs[Double]("rmst_days") - acc.toDouble) < 1e-9,
      "RMST step-sum replay")
    // bounds: 0 <= RMST <= t_max
    assert(rm.getAs[Double]("rmst_days") >= 0.0 &&
      rm.getAs[Double]("rmst_days") <= rm.getAs[Long]("t_max").toDouble + 1e-9)
  }

  test("cliff's delta: ties to mann-whitney's U, bounded, banded") {
    val mw = ops.Statistics.mannWhitney(spark, sf).collect().head
    val (n1, n2, u1x2) = (mw.getAs[Long]("n1"), mw.getAs[Long]("n2"),
      mw.getAs[Long]("u1_x2"))
    val row = ops.Statistics.cliffDelta(spark, sf).collect().head
    assert(row.getAs[Long]("n1") === n1 && row.getAs[Long]("n2") === n2)
    val brute = math.floor((u1x2 - n1 * n2).toDouble / (n1 * n2) * 1e6 + 0.5) / 1e6
    val delta = row.getAs[Double]("delta")
    assert(delta === brute, "delta = (2U1 - n1n2)/(n1n2) off the same frame")
    assert(delta >= -1.0 && delta <= 1.0)
    val expectBand =
      if (math.abs(delta) < 0.147) "negligible"
      else if (math.abs(delta) < 0.33) "small"
      else if (math.abs(delta) < 0.474) "medium" else "large"
    assert(row.getAs[String]("magnitude") === expectBand)
  }

  test("lorenz: full decile grid, below the diagonal, anchored at 1") {
    val rows = ops.Statistics.lorenzCurve(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (t, xs) =>
      val sorted = xs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to 10), s"$t: every decile present")
      // Lorenz curve of an ascending-value sort is convex and below the
      // diagonal: value share never exceeds population share
      sorted.foreach { case (_, k, _, popPpm, valPpm, share) =>
        assert(valPpm <= popPpm, s"$t decile $k above the diagonal")
        assert(share >= 0.0 && share <= 1.0 + 1e-9)
        assert(popPpm >= k * 100000L, s"$t decile $k reached its row mass")
      }
      // monotone in value share, anchored at the full corpus
      assert(sorted.map(_._6).sliding(2).forall(p => p.head <= p.last + 1e-12))
      assert(math.abs(sorted.last._6 - 1.0) < 1e-6, s"$t decile 10 = all value")
      assert(sorted.last._4 === 1000000L)
    }
  }

  test("pacf: Durbin-Levinson replay from ljung-box's quantized lags") {
    val lb = ops.Statistics.ljungBox(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Double]("r1"), r.getAs[Double]("r2"), r.getAs[Double]("r3")))
      .toMap
    val rows = ops.Statistics.pacf(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet === lb.keySet, "same type frame")
    val q6 = (x: Double) => math.floor(x * 1e6 + 0.5) / 1e6
    rows.foreach { r =>
      val (r1, r2, r3) = lb(r.getString(0))
      assert(r.getAs[Double]("r1") === r1 && r.getAs[Double]("r2") === r2 &&
        r.getAs[Double]("r3") === r3, "shared lag frame")
      assert(r.getAs[Double]("pacf1") === r1, "level 1 is r1")
      val den2 = 1.0 - r1 * r1
      if (den2 != 0.0) {
        val p2 = q6((r2 - r1 * r1) / den2)
        assert(r.getAs[Double]("pacf2") === p2, "level 2 replay")
        val p21 = q6(r1 - p2 * r1)
        val den3 = 1.0 - p21 * r1 - p2 * r2
        if (den3 != 0.0)
          assert(r.getAs[Double]("pacf3") === q6((r3 - p21 * r2 - p2 * r1) / den3),
            "level 3 replay")
        else assert(r.isNullAt(r.fieldIndex("pacf3")))
      } else assert(r.isNullAt(r.fieldIndex("pacf2")))
    }
  }

  test("grubbs: quantized-moment replay, statistic positive and bounded") {
    val rows = ops.Statistics.grubbs(spark, sf).collect()
    assert(rows.nonEmpty)
    val raw = Tables.events(spark, sf).filter(col("value").isNotNull)
      .select("event_type", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).groupBy(_._1)
    rows.foreach { r =>
      val xs = raw(r.getString(0)).map(_._2)
      val n = xs.length.toLong
      assert(r.getAs[Long]("n") === n)
      val mu = math.floor((xs.map(x => BigDecimal(x.toString)).sum.toDouble / n)
        * 1e6 + 0.5) / 1e6
      val dq = xs.map(x => math.floor((x - mu) * 1000 + 0.5).toLong)
      assert(r.getAs[Long]("max_dev_milli") === dq.map(math.abs).max)
      val s2 = dq.map(d => BigInt(d) * d).sum
      val g = math.floor(dq.map(math.abs).max.toDouble /
        math.sqrt(s2.toDouble / (n - 1)) * 1e6 + 0.5) / 1e6
      assert(r.getAs[Double]("g_stat") === g, "G replay")
      assert(g > 0.0)
      // G is bounded by (n-1)/sqrt(n): the one-outlier extremal config
      assert(g <= (n - 1).toDouble / math.sqrt(n.toDouble) + 1e-6)
    }
  }

  test("log-rank: exact integer replay of O/E/V on the two-segment frame") {
    val row = ops.Statistics.logRank(spark, sf).collect().head
    // brute-force the lifetime frame from the raw tables
    val segs = Tables.customer(spark, sf)
      .filter(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
      .select(col("c_custkey"), col("c_mktsegment")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val per = Tables.orders(spark, sf)
      .filter(col("o_custkey").isin(segs.keys.toSeq: _*))
      .groupBy("o_custkey")
      .agg(min(unix_micros(col("o_orderdate").cast("timestamp"))).as("mn"),
        max(unix_micros(col("o_orderdate").cast("timestamp"))).as("mx"))
      .collect().map(r => (segs(r.getLong(0)), r.getLong(1), r.getLong(2)))
    val lo = per.map(_._2).min; val hi = per.map(_._3).max
    val cut = lo + (hi - lo) * 4 / 5
    val life = per.map { case (seg, mn, mx) =>
      (seg, (mx - mn) / 86400000000L, mx > cut) }
    assert(row.getAs[Long]("n_a") === life.count(_._1 == "AUTOMOBILE"))
    assert(row.getAs[Long]("n_b") === life.count(_._1 == "BUILDING"))
    val times = life.filter(!_._3).map(_._2).distinct.sorted
    var oA = 0L; var eMicro = BigInt(0); var vMicro = BigInt(0)
    times.foreach { t =>
      val atRisk = life.filter(_._2 >= t)
      val n = atRisk.length.toLong
      val n1 = atRisk.count(_._1 == "AUTOMOBILE").toLong
      val d1 = life.count(x => x._1 == "AUTOMOBILE" && x._2 == t && !x._3).toLong
      val dt = life.count(x => x._2 == t && !x._3).toLong
      if (dt > 0 && n > 1) {
        oA += d1
        eMicro += BigInt(dt) * n1 * 1000000 / n
        vMicro += BigInt(dt) * n1 * (n - n1) * (n - dt) * 1000000 /
          (BigInt(n) * n * (n - 1))
      }
    }
    assert(row.getAs[Long]("o_a") === oA)
    assert(math.abs(row.getAs[Double]("e_a") - eMicro.toDouble / 1e6) < 1e-5)
    assert(math.abs(row.getAs[Double]("v") - vMicro.toDouble / 1e6) < 1e-5)
    if (vMicro != 0) {
      val num = (BigInt(oA) * 1000000 - eMicro).pow(2)
      val brute = num.toDouble / (vMicro * 1000000).toDouble
      assert(math.abs(row.getAs[Double]("chi2") - brute) < 1e-4, "chi2 replay")
      assert(row.getAs[Double]("chi2") >= 0.0)
    } else assert(row.isNullAt(row.fieldIndex("chi2")))
  }

  test("hazard ratio: O/E identities vs the log-rank frame") {
    val lr = ops.Statistics.logRank(spark, sf).collect().head
    val hr = ops.Statistics.hazardRatio(spark, sf).collect().head
    assert(hr.getAs[Long]("o_a") === lr.getAs[Long]("o_a"))
    assert(hr.getAs[Double]("e_a") === lr.getAs[Double]("e_a"))
    val oA = hr.getAs[Long]("o_a"); val oB = hr.getAs[Long]("o_b")
    val eA = hr.getAs[Double]("e_a"); val eB = hr.getAs[Double]("e_b")
    // per time: e_a + e_b = dt - (floor slack < 2/1e6 per time), so the
    // totals agree with total deaths up to the accumulated floor slack
    assert(math.abs((eA + eB) - (oA + oB)) < 0.01,
      s"E_A + E_B ~ total deaths: $eA + $eB vs ${oA + oB}")
    if (!hr.isNullAt(hr.fieldIndex("hazard_ratio"))) {
      val ratio = hr.getAs[Double]("hazard_ratio")
      val brute = (oA * eB) / (oB * eA)
      assert(math.abs(ratio - brute) < 1e-3, s"HR $ratio vs O/E brute $brute")
      assert(ratio > 0.0)
    } else assert(oB == 0L || eA == 0.0)
  }

  test("wilcoxon signed-rank: midrank lattice replay, rank-sum identity") {
    val rows = ops.Statistics.wilcoxonSignedRank(spark, sf).collect()
    val daily = Tables.events(spark, sf)
      .filter(col("value").isNotNull && col("event_type").isin("click", "view"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        coalesce(sum(when(col("event_type") === "click",
          floor(col("value") * 1000000 + lit(0.5)).cast("long"))), lit(0L)).as("sc"),
        coalesce(sum(when(col("event_type") === "view",
          floor(col("value") * 1000000 + lit(0.5)).cast("long"))), lit(0L)).as("sv"))
      .collect().map(r => r.getLong(1) - r.getLong(2)).filter(_ != 0L)
    if (daily.isEmpty) assert(rows.isEmpty)
    else {
      val row = rows.head
      val n = daily.length.toLong
      assert(row.getAs[Long]("n_pairs") === n)
      // 2x midranks by |diff| tie groups
      val groups = daily.groupBy(math.abs).toSeq.sortBy(_._1)
      var cumBefore = 0L; var w2p = 0L; var w2m = 0L; var tie3 = 0L
      groups.foreach { case (_, ds) =>
        val c = ds.length.toLong
        val r2 = 2 * cumBefore + c + 1
        w2p += ds.count(_ > 0) * r2
        w2m += ds.count(_ < 0) * r2
        tie3 += c * c * c - c
        cumBefore += c
      }
      assert(row.getAs[Double]("w_plus") === w2p.toDouble / 2.0)
      assert(row.getAs[Double]("w_minus") === w2m.toDouble / 2.0)
      // rank-sum identity: W+ + W- = n(n+1)/2
      assert(w2p + w2m === n * (n + 1))
      val var12 = 2 * n * (n + 1) * (2 * n + 1) - tie3
      val z = (w2p - n * (n + 1) / 2.0) / math.sqrt(var12 / 12.0)
      assert(math.abs(row.getAs[Double]("z") - z) < 1e-5, "z replay")
    }
  }

  test("drift monitors skip NULL values: ks, psi, the drift report and streaming PSI") {
    val base = java.nio.file.Files.createTempDirectory("graft_null_values").toString
    val (clean, withNulls) = (s"$base/clean", s"$base/nulls")
    val ev = Tables.events(spark, sf)
    ev.write.parquet(s"$clean/events.parquet")
    // the same rows plus NULL-valued copies of every 7th event, of every type
    val maxId = ev.agg(max("event_id")).head.getLong(0)
    ev.union(ev.filter(col("event_id") % 7 === 0)
        .withColumn("event_id", col("event_id") + maxId + 1)
        .withColumn("value", lit(null).cast("double")))
      .write.parquet(s"$withNulls/events.parquet")
    val nulls = Tables.events(spark, withNulls).filter(col("value").isNull)
    assert(nulls.filter(col("event_type") === "click").count() > 0)
    assert(nulls.filter(col("event_type") === "view").count() > 0)
    def same(f: String => org.apache.spark.sql.DataFrame, what: String): Unit = {
      def rows(d: String) = f(d).collect().toSeq.map(_.toSeq)
      assert(rows(withNulls) === rows(clean), what)
    }
    same(ops.Statistics.ksDrift(spark, _), "ks")
    same(ops.Statistics.psiDrift(spark, _), "psi")
    // the chi-square monitor counts every event, NULL value or not
    same(d => ops.Statistics.driftReport(spark, d).filter(col("monitor") =!= "chisq"),
      "drift report ks and psi rows")
    val cleanEv = Tables.events(spark, clean)
    val ext = cleanEv.agg(min(col("value")), max(col("value"))).head
    val (lo, hi) = (ext.getDouble(0), ext.getDouble(1))
    val baseline = streaming.Streams.valueHistogram(
      cleanEv.filter(col("event_type") === "view"), lo, hi)
    same(d => streaming.Streams.psiVsBaseline(Tables.events(spark, d), baseline, lo, hi),
      "streaming psi")
  }
}

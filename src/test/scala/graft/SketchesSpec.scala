package graft

import org.apache.spark.sql.functions._

import graft.operators.Sketches

/** Relational count-min / Bloom sketches: the structural guarantees
  * (no undercount, no false negatives), collision behavior under a
  * deliberately tiny geometry, and batch mergeability. */
class SketchesSpec extends SparkSpec {
  import sqlImplicits._

  private def zipf = (1 to 2000).map { i =>
    (i.toLong, (i % 37).toLong)  // 37 keys, uniformish
  }.toDF("row_id", "k")

  test("count-min never undercounts, and a tiny width forces overcounts") {
    val df = zipf
    val exact = df.groupBy(col("k")).agg(count(lit(1)).as("exact_cnt"))
    // width 8 << 37 keys: collisions guaranteed somewhere
    val cms = Sketches.countMin(df, col("k").cast("string"), depth = 3, width = 8L)
    val est = Sketches.countMinEstimate(cms, exact, col("k").cast("string"),
      depth = 3, width = 8L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(est.forall { case (_, ex, e) => e >= ex }, "undercount found")
    assert(est.exists { case (_, ex, e) => e > ex },
      "width 8 with 37 keys must collide somewhere")
  }

  test("count-min states merge by summing bucket counts") {
    val a = zipf.filter(col("row_id") <= 1000)
    val b = zipf.filter(col("row_id") > 1000)
    val whole = Sketches.countMin(zipf, col("k").cast("string"), 3, 64L)
    val merged = Sketches.countMin(a, col("k").cast("string"), 3, 64L)
      .unionAll(Sketches.countMin(b, col("k").cast("string"), 3, 64L))
      .groupBy(col("d"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
    val diff = whole.as("w").join(merged.as("m"), Seq("d", "bucket"), "full_outer")
      .filter(coalesce(col("w.cnt"), lit(-1L)) =!= coalesce(col("m.cnt"), lit(-2L)))
    assert(diff.count() === 0L)
  }

  test("bloom has no false negatives; a tiny filter shows false positives") {
    val present = (1 to 500).map(i => Tuple1(i.toLong * 2)).toDF("k")
    val bits = Sketches.bloomBits(present, col("k").cast("string"),
      numBits = 512L, numHashes = 3)  // 500 keys × 3 hashes in 512 bits: dense
    val probes = (1 to 1000).map(i => (i.toLong, i % 2 == 0)).toDF("k", "present")
    val got = Sketches.bloomMaybeContains(bits, probes, col("k").cast("string"),
      numBits = 512L, numHashes = 3)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    assert(got.forall { case (_, p, m) => !p || m }, "false negative found")
    assert(got.exists { case (_, p, m) => !p && m },
      "a near-saturated filter must show some false positive")
  }

  test("bloomPrune keeps exactly the rows bloomMaybeContains marks maybe " +
    "(row-local prune ≡ audited verdicts) and never drops a true match") {
    val dim = (1 to 300).map(i => Tuple1(i.toLong * 3)).toDF("k")
    val fact = (1 to 2000).map(i => Tuple1(i.toLong)).toDF("k")
    val nb = 1024L
    val bits = Sketches.bloomBits(dim, col("k").cast("string"), nb, 3)
    val viaAudit = Sketches.bloomMaybeContains(bits, fact,
      col("k").cast("string"), nb, 3)
      .filter(col("bloom_maybe")).select(col("k"))
      .collect().map(_.getLong(0)).toSet
    val bitsArr = Sketches.bloomBitsArray(dim, col("k").cast("string"), nb, 3)
    val viaPrune = Sketches.bloomPrune(fact, col("k").cast("string"),
      bitsArr, nb, 3).collect().map(_.getLong(0)).toSet
    assert(viaPrune === viaAudit)
    val trueKeys = (1 to 300).map(_.toLong * 3).filter(_ <= 2000).toSet
    assert(trueKeys.subsetOf(viaPrune), "bloom prune dropped a true match")
  }

  test("BloomConfig: one config value drives build AND probe — xxBloom " +
    "prune equals the raw functions under the same hash family, with no " +
    "true match dropped") {
    val dim = (1 to 300).map(i => Tuple1(i.toLong * 3)).toDF("k")
    val fact = (1 to 2000).map(i => Tuple1(i.toLong)).toDF("k")
    val nb = 1024L
    val bloom = Sketches.xxBloom(nb, 3)
    val bits = bloom.bitsArray(dim, col("k").cast("string"))
    val viaConfig = bloom.prune(fact, col("k").cast("string"), bits)
      .collect().map(_.getLong(0)).toSet
    val rawBits = Sketches.bloomBitsArray(dim, col("k").cast("string"),
      nb, 3, Sketches.xxBucket)
    val viaRaw = Sketches.bloomPrune(fact, col("k").cast("string"),
      rawBits, nb, 3, Sketches.xxBucket)
      .collect().map(_.getLong(0)).toSet
    assert(viaConfig === viaRaw)
    val trueKeys = (1 to 300).map(_.toLong * 3).filter(_ <= 2000).toSet
    assert(trueKeys.subsetOf(viaConfig), "config-driven prune dropped a " +
      "true match")
  }

  test("SortedArrayContains: binary search equals array_contains on " +
    "sorted arrays (codegen and eval), incl. empty array and boundaries") {
    import org.apache.spark.sql.graft.ColumnBridge
    import graft.expressions.SortedArrayContains
    def sc(arr: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =
      ColumnBridge.toColumn(SortedArrayContains(
        ColumnBridge.toExpression(arr), ColumnBridge.toExpression(v)))
    val arrs = Seq(
      (1L, Seq(2L, 4L, 8L, 16L, 32L)),
      (2L, Seq.empty[Long]),
      (3L, Seq(7L)),
      (4L, (0L until 1000L).map(_ * 2).toSeq))
    val probes = Seq(-1L, 0L, 2L, 7L, 15L, 16L, 32L, 33L, 1998L, 1999L)
    val df = arrs.toDF("id", "arr")
    probes.foreach { p =>
      val got = df.select(col("id"), sc(col("arr"), lit(p)).as("g"),
        array_contains(col("arr"), lit(p)).as("e")).collect()
      got.foreach(r => assert(r.getBoolean(1) === r.getBoolean(2),
        s"probe $p id ${r.getLong(0)}"))
    }
    // interpreted eval agrees with the dataframe (codegen) path
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val ev = SortedArrayContains(
      Literal.create(new GenericArrayData(Array(2L, 4L, 8L)),
        ArrayType(LongType, containsNull = false)),
      Literal(8L)).eval(null)
    assert(ev === true)
    // SQL surface
    val viaSql = spark.sql(
      "SELECT graft_sorted_contains(array(1L, 5L, 9L), 5L) AS m").head()
    assert(viaSql.getBoolean(0))
  }

  test("countMinWidthCurve: zero undercounts at every width (the CMS " +
      "guarantee), overcount shrinks as width grows, and every point " +
      "equals a direct estimate recount") {
    // skewed keys: 50 distinct keys, counts 1..50 over 1275 rows —
    // narrow widths force collisions, wide widths clear them
    val rows = (1 to 50).flatMap(k => Seq.fill(k)(s"key-$k")).toDF("k")
    val widths = Seq(16L, 64L, 1024L)
    val curve = Sketches.countMinWidthCurve(rows, col("k"), widths,
        depth = 3)
      .orderBy(col("width"))
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
    assert(curve.map(_._1).toSeq === widths)
    assert(curve.forall(_._2 === 0L), s"undercount impossible: $curve")
    assert(curve.map(_._3).toSeq === curve.map(_._3).sorted.reverse.toSeq,
      s"overcount must shrink with width: $curve")
    assert(curve.head._3 > 0L, "width 16 over 50 keys must collide")
    assert(curve.last._3 === 0L, "width 1024 over 50 keys must be clean")
    // per-point recount through the public estimate path
    widths.foreach { w =>
      val exact = rows.groupBy(col("k").as("__k"))
        .agg(count(lit(1)).as("exact_cnt"))
      val est = Sketches.countMinEstimate(
        Sketches.countMin(rows, col("k"), 3, w), exact, col("__k"), 3, w)
      val sumOver = est.agg(sum(col("cms_est") - col("exact_cnt")))
        .collect()(0).getLong(0)
      assert(curve.find(_._1 == w).get._3 === sumOver)
    }
  }

  test("bloomSizingCurve: fp_rate non-increasing in bits, each point " +
      "tracks (1-e^{-kn/m})^k, no false negatives at any size, and " +
      "every point equals a direct prune recount") {
    val build = (1 to 400).map(i => s"key-$i").toDF("k")
    val probes = (10001 to 11000).map(i => s"abs-$i").toDF("k")
    val sizes = Seq(512L, 2048L, 8192L)
    val curve = Sketches.bloomSizingCurve(build, probes, col("k"),
        sizes, numHashes = 3)
      .orderBy(col("num_bits"))
      .collect().map(r => (r.getLong(0), r.getLong(4), r.getDouble(5)))
    assert(curve.map(_._1).toSeq === sizes)
    // monotone non-increasing fp as the filter grows
    assert(curve.map(_._2).toSeq === curve.map(_._2).sorted.reverse.toSeq)
    // each measured rate within 2x+0.02 of the standard model
    curve.foreach { case (m, _, rate) =>
      val theory = math.pow(1 - math.exp(-3.0 * 400 / m), 3)
      assert(rate <= theory * 2 + 0.02 && rate >= theory / 2 - 0.02,
        s"m=$m rate=$rate theory=$theory")
    }
    sizes.foreach { m =>
      val cfg = Sketches.BloomConfig(m, 3)
      val bits = cfg.bitsArray(build, col("k"))
      // no false negatives: every build key passes its own filter
      assert(cfg.prune(build, col("k"), bits).count() === 400L)
      // the curve point is exactly the direct recount
      val direct = cfg.prune(probes, col("k"), bits).count()
      assert(curve.find(_._1 == m).get._2 === direct)
    }
  }

  test("countMinWidthCurve: every width row equals the one-point " +
      "countMin + countMinEstimate recount, for duplicate and " +
      "out-of-order widths and on an input no key reaches") {
    val rows = (1 to 30).flatMap(k => Seq.fill(k % 7 + 1)(s"key-$k")).toDF("k")
    def point(df: org.apache.spark.sql.DataFrame, w: Long) = {
      val exact = df.groupBy(col("k").as("__k"))
        .agg(count(lit(1)).as("exact_cnt"))
      val r = Sketches.countMinEstimate(Sketches.countMin(df, col("k"), 3, w),
          exact, col("__k"), 3, w)
        .agg(count(lit(1)),
          coalesce(sum(when(col("cms_est") < col("exact_cnt"), 1L)
            .otherwise(0L)), lit(0L)),
          coalesce(sum(col("cms_est") - col("exact_cnt")), lit(0L)),
          coalesce(max(col("cms_est") - col("exact_cnt")), lit(0L)))
        .head()
      Seq(w, 3L, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    Seq(rows, rows.filter(lit(false))).foreach { df =>
      val curve = Sketches.countMinWidthCurve(df, col("k"),
        Seq(64L, 8L, 1024L, 8L), depth = 3).collect()
      assert(curve.map(_.getLong(0)).toSeq === Seq(8L, 64L, 1024L))
      curve.foreach { r =>
        val want = point(df, r.getLong(0))
        assert((0 until 6).map(r.getLong) === want)
        assert(r.getDouble(6) === (if (want(2) == 0L) 0.0
          else BigDecimal(want(4).toDouble / want(2))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    }
  }

  test("bloomSizingCurve: every size row equals the one-point " +
      "BloomConfig prune recount, for duplicate and out-of-order sizes " +
      "and a size no probe passes") {
    val build = (1 to 200).map(i => s"key-$i").toDF("k")
    val probes = (5001 to 5500).map(i => s"abs-$i").toDF("k")
    // 2^20 bits over 600 set bits: no probe passes all 3 (p ≈ 2e-10)
    val curve = Sketches.bloomSizingCurve(build, probes, col("k"),
      Seq(4096L, 256L, 1L << 20, 256L), numHashes = 3).collect()
    assert(curve.map(_.getLong(0)).toSeq === Seq(256L, 4096L, 1L << 20))
    curve.foreach { r =>
      val cfg = Sketches.BloomConfig(r.getLong(0), 3)
      val nFp = cfg.prune(probes, col("k"), cfg.bitsArray(build, col("k")))
        .count()
      assert((0 until 5).map(r.getLong) ===
        Seq(r.getLong(0), 3L, 200L, 500L, nFp))
      assert(r.getDouble(5) === BigDecimal(nFp.toDouble / 500)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(curve.last.getLong(4) === 0L)
  }

  test("each sketch curve is one plan: a grid of three points starts at " +
      "most 2 more Spark jobs than a grid of one") {
    val rows = (1 to 300).map(i => s"key-${i % 40}").toDF("k")
    val probes = (1 to 100).map(i => s"abs-$i").toDF("k")
    def cms(ws: Seq[Long]) = Sketches.countMinWidthCurve(rows, col("k"),
      ws, depth = 3)
    def bloom(ms: Seq[Long]) = Sketches.bloomSizingCurve(rows, probes,
      col("k"), ms, numHashes = 3)
    Seq[(String, Seq[Long] => org.apache.spark.sql.DataFrame)](
        "countMinWidthCurve" -> cms, "bloomSizingCurve" -> bloom)
      .foreach { case (name, curve) =>
        def jobs(n: Int): Int =
          jobsDuring { curve(Seq(64L, 256L, 1024L).take(n)).collect(); () }
        val (one, three) = (jobs(1), jobs(3))
        assert(three <= one + 2,
          s"$name: $one jobs over 1 point, $three over 3")
      }
  }
}

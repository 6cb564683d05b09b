package graft

import graft.operators.{Quantile, Skyline, TopK}
import org.apache.spark.sql.functions._

/** Randomized-agreement laws for the reusable operators: each result
  * must equal a brute-force reference on generated inputs, including
  * the tie/duplicate/negative edge cases the fixtures may not hit. */
class OperatorLawSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private val rnd = new scala.util.Random(42)

  test("skyline operator equals the quadratic dominance definition on random sets") {
    for (trial <- 0 until 5) {
      // small value ranges force heavy tie/duplicate collisions
      val pts = (0 until 300).map(i =>
        (i.toLong, rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      val df = pts.toDF("k", "x", "y")
      val got = Skyline.skyline(df, "x", "y", col("k"))
        .collect().map(_.getLong(0)).toSet
      val brute = pts.filter { case (_, x, y) =>
        !pts.exists { case (_, x2, y2) =>
          (x2 > x && y2 >= y) || (x2 == x && y2 > y) }
      }.map(_._1).toSet
      assert(got == brute, s"trial $trial: ${got.diff(brute)} / ${brute.diff(got)}")
    }
  }

  test("skyline salt-bucket count cannot change the answer") {
    val pts = (0 until 200).map(i =>
      (i.toLong, rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val df = pts.toDF("k", "x", "y")
    val r1 = Skyline.skyline(df, "x", "y", col("k"), buckets = 1)
      .collect().map(_.getLong(0)).toSet
    val r7 = Skyline.skyline(df, "x", "y", col("k"), buckets = 7)
      .collect().map(_.getLong(0)).toSet
    val r64 = Skyline.skyline(df, "x", "y", col("k"), buckets = 64)
      .collect().map(_.getLong(0)).toSet
    assert(r1 == r7 && r7 == r64, "partitioning leaked into the result")
  }

  test("topK operator equals sort-take per group, ties by key, negatives included") {
    for (trial <- 0 until 5) {
      val rows = (0 until 400).map(i =>
        (rnd.nextInt(6).toLong, i.toLong, (rnd.nextInt(200) - 100).toLong))
      val df = rows.toDF("g", "k", "v")
      val got = TopK.topK(df, "g", "k", "v", 4).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      val brute = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        rs.sortBy(r => (-r._3, r._2)).take(4).zipWithIndex
          .map { case ((_, k, v), i) => (g, i + 1L, k, v) }
      }.sortBy(t => (t._1, t._2))
      assert(got == brute, s"trial $trial diverges")
    }
  }

  test("quantile ranked equals sort-based row_number, heavy ties and negatives included") {
    for ((cells, trial) <- Seq(256, 7, 2).zipWithIndex) {
      // value range 6 over 500 rows: every value is a massive tie
      // group, the exact shape the id-split level exists for; a
      // non-unique id (i % 97) exercises the (v, id)-duplicate edge
      val rows = (0 until 500).map(i =>
        (rnd.nextInt(3).toLong, (rnd.nextInt(6) - 3).toLong, (i % 97).toLong))
      val df = rows.toDF("g", "v", "k")
      val got = Quantile.ranked(df, Seq("g"), "v", "k", cells = cells)
        .select(col("g"), col("v"), col("k"), col("rn"), col("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
        .sortBy(t => (t._1, t._4)).toSeq
      // brute: per group, ranks are 1..n in (v, k) order; equal (v, k)
      // rows are interchangeable, so compare the (v, k) sequence that
      // the rank order induces, not per-row rank assignments
      val brute = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        val n = rs.size.toLong
        rs.map(r => (r._2, r._3)).sorted.zipWithIndex
          .map { case ((v, k), i) => (g, v, k, i + 1L, n) }
      }.sortBy(t => (t._1, t._4))
      assert(got == brute, s"cells=$cells trial $trial diverges")
    }
  }

  test("quantile ranked global (no group) and wide-range values agree with sort") {
    val rows = (0 until 400).map(i =>
      (rnd.nextLong() % 1000000000000L, i.toLong))
    val df = rows.toDF("v", "k")
    val got = Quantile.ranked(df, Seq.empty, "v", "k")
      .select(col("v"), col("k"), col("rn")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._3).map(t => (t._1, t._2)).toSeq
    assert(got == rows.sorted, "global ranking diverges from sort")
  }

  test("quantile level 3 id-splits a heavy value co-celled with neighbors") {
    // The round-12 documented residual, planted adversarially: one
    // value at 10x the n/cells partition target sharing its level-1
    // cell with neighbor values. Pre-level-3, all its rows landed in
    // ONE value-refined subcell (a 2560-row partition); now the
    // heavy-subcell test (count*cells > n) must id-split it. Two
    // plants: a WIDE cell (span >= cells, the equal-width level-2
    // path) and a NARROW cell (span < cells, the exact-offset path).
    val C = 16
    // wide: range 0..1599 -> cell width 100; cell 0 spans [0, 99]
    // (span 90 >= C) with the heavy value at 50 and neighbors at the
    // other multiples of 10; level-2 subcell width ceil(106/16)=7
    // isolates 50 from its nearest neighbors (40, 60)
    val wide = Seq.fill(2560)(50L) ++
      (0 until 144).flatMap(_ => Seq(0L, 10L, 20L, 30L, 40L, 60L, 70L, 80L, 90L)) ++
      (0 until 240).map(i => 100L + (i % 1500))
    // narrow: values 0..14 in cell 0 (span < C -> exact offsets),
    // heavy at 7, then a far tail so the cell itself is co-celled
    val narrow = Seq.fill(2560)(7L) ++
      (0 until 1296).map(i => (i % 15).toLong) ++
      (0 until 240).map(i => 1000L + (i % 500))
    for ((vals, label) <- Seq((wide, "wide"), (narrow, "narrow"))) {
      val n = vals.size
      val rows = vals.zipWithIndex.map { case (v, i) => (v, i.toLong) }
      val df = rows.toDF("v", "k")
      val bucketed = Quantile.rankedBuckets(df, Seq.empty, "v", "k", C)
      // correctness: still the exact sort order
      val got = bucketed.select(col("v"), col("k"), col("rn")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._3).map(t => (t._1, t._2)).toSeq
      assert(got == rows.sorted, s"$label: ranking diverges from sort")
      // scale: no (c1, c2, c3) bucket — i.e. no final shuffle/window
      // partition — may hold the undissolved 2560-row spike; the id
      // split caps it at ~multiplicity/C plus rounding slack
      val maxBucket = bucketed
        .groupBy(col("__q_c1"), col("__q_c2"), col("__q_c3"))
        .count().agg(max(col("count"))).collect()(0).getLong(0)
      assert(maxBucket <= 2560 / C + n / C,
        s"$label: a $maxBucket-row bucket survived (n=$n, target ~${n / C})")
    }
  }

  test("quantile fourth-order residual is exactly the documented escape, no wider") {
    // Quantile.scala's scaladoc (the "residual after three levels"
    // paragraph) claims a heavy value survives all three refinement
    // levels ONLY when (a) its level-1 cell span >= cells — which
    // needs a value range > cells^2, so level 2 refines equal-width
    // instead of exact-offset — AND (b) a neighbor value sits within
    // span/cells of it, keeping the level-2 subcell multi-valued so
    // level 3's single-valued test never fires. Plant exactly that
    // and assert the surviving bucket is EXACTLY the planted subcell
    // (heavy + neighbor rows, nothing more); then break each
    // precondition separately and assert the spike dissolves to the
    // level-3 bound. If the residual is ever wider than claimed this
    // fails, forcing the fourth refinement level.
    val C = 16
    val H = 2560 // heavy multiplicity = 10x the n/C target at n=4096
    val M = 100  // the co-subcell neighbor's multiplicity
    val bound = H / C + 4096 / C // the dissolved (level-3) ceiling
    def audit(vals: Seq[Long])
        : (Map[(Long, Long, Long), Long], Set[(Long, Long, Long)]) = {
      assert(vals.size == 4096, s"plant must keep n=4096, got ${vals.size}")
      val rows = vals.zipWithIndex.map { case (v, i) => (v, i.toLong) }
      val b = Quantile.rankedBuckets(rows.toDF("v", "k"), Seq.empty,
        "v", "k", C)
      val got = b.select(col("v"), col("k"), col("rn")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._3).map(t => (t._1, t._2)).toSeq
      assert(got == rows.sorted, "ranking diverges from sort")
      val counts = b.groupBy(col("__q_c1"), col("__q_c2"), col("__q_c3"))
        .count().collect()
        .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
          r.getLong(3))).toMap
      val heavyBuckets = b.filter(col("v") === 130L)
        .select(col("__q_c1"), col("__q_c2"), col("__q_c3")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      (counts, heavyBuckets)
    }
    // global range [0, 4095] -> level-1 width 256 (> C, so range >
    // C^2 = 256); anchors 0/255 stretch cell 0's span to 255 >= C
    // (wide path, level-2 subcell width 16); heavy 130 and neighbor
    // 135 share subcell 8 (within span/cells = 16 of each other)
    def plant(neighbor: Long): Seq[Long] =
      Seq.fill(H)(130L) ++ Seq.fill(M)(neighbor) ++
        Seq(0L, 255L, 4095L) ++
        (0 until 1433).map(i => 256L + (i % 3839))
    // ESCAPE: both preconditions hold -> the subcell survives intact,
    // and it is EXACTLY the planted heavy + neighbor rows
    val (esc, escHeavy) = audit(plant(neighbor = 135L))
    assert(escHeavy.size == 1, s"heavy value split: $escHeavy")
    assert(esc(escHeavy.head) == H + M,
      s"escaped bucket holds ${esc(escHeavy.head)} rows, documented " +
        s"residual is exactly heavy+neighbor = ${H + M}")
    val escOther = (esc - escHeavy.head).values.max
    assert(escOther <= bound,
      s"a non-planted $escOther-row bucket exceeds the level-3 bound")
    // BREAK (b): neighbor at 150 is > span/cells away (subcell 9) ->
    // the heavy subcell is single-valued -> level 3 id-splits it
    val (noNbr, _) = audit(plant(neighbor = 150L))
    assert(noNbr.values.max <= bound,
      s"without a co-subcell neighbor the spike must dissolve; " +
        s"max bucket ${noNbr.values.max} > $bound")
    // BREAK (a): compress the value range to <= cells^2 (255) -> the
    // heavy value's cell span < cells -> exact-offset subcells are
    // single-valued -> level 3 id-splits the heavy one
    val narrow = Seq.fill(H)(130L) ++ Seq.fill(M)(135L) ++
      Seq(0L, 255L) ++ (0 until 1434).map(i => (i % 256).toLong)
    val (noRange, _) = audit(narrow)
    assert(noRange.values.max <= bound,
      s"with range <= cells^2 the spike must dissolve; " +
        s"max bucket ${noRange.values.max} > $bound")
  }

  test("quantile prefixSum equals the running-sum window, ties included") {
    for (trial <- 0 until 3) {
      val rows = (0 until 300).map(i =>
        (rnd.nextInt(2).toLong, rnd.nextInt(9).toLong, i.toLong,
          rnd.nextInt(50).toLong))
      val df = rows.toDF("g", "v", "k", "w")
      val got = Quantile.prefixSum(df, Seq("g"), "v", "k", "w")
        .select(col("g"), col("k"), col("prev_cum")).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val brute = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        val sorted = rs.sortBy(r => (r._2, r._3))
        sorted.zipWithIndex.map { case ((_, _, k, _), i) =>
          (g, k) -> sorted.take(i).map(_._4).sum }
      }.toMap
      assert(got == brute, s"trial $trial: prefix sums diverge")
    }
  }

  test("quantile ntileOf equals the ntile window for every k and n") {
    for (k <- Seq(1, 2, 4, 7, 10); n <- Seq(1, 3, 9, 10, 11, 40)) {
      val df = (1 to n).map(i => (i.toLong, n.toLong)).toDF("rn", "n")
      val got = df.select(col("rn"),
          Quantile.ntileOf("rn", "n", k).cast("long").as("b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("rn"))
      val ref = df.select(col("rn"), ntile(k).over(w).cast("long").as("b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      assert(got.sameElements(ref), s"k=$k n=$n: ${got.toSeq} vs ${ref.toSeq}")
    }
  }

  test("quantile ntiled with duplicate (value, id) pairs across a boundary: copies share the lower bucket") {
    // ntiled's precondition is a unique id per group; this pins what it
    // does when that breaks. A row's bucket is 1 + #(boundary pairs
    // strictly below its (value, id)), the boundaries being the pairs
    // at the ANSI bucket-edge ranks, so every copy of a pair that sits
    // on a boundary lands in the lower bucket, and the bucket sizes
    // stop being ANSI ntile's. n = 10, k = 2: the boundary is rank 5,
    // and ranks 5 and 6 are the same pair (5, 5).
    val df = Seq(1L, 2L, 3L, 4L, 5L, 5L, 7L, 8L, 9L, 10L).map(v => (v, v)).toDF("v", "id")
    val got = Quantile.ntiled(df, Seq.empty, "v", "id", 2, "b")
      .select("v", "b").as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (5L, 1L),
      (7L, 2L), (8L, 2L), (9L, 2L), (10L, 2L)))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"), col("id"))
    val ansi = df.select(ntile(2).over(w).as("b")).groupBy("b").count()
      .as[(Int, Long)].collect().toMap
    assert(ansi == Map(1 -> 5L, 2 -> 5L), "ANSI ntile splits the tied pair")
    // the same rule on random groups with heavy (value, id) duplication
    for (trial <- 0 until 3; k <- Seq(3, 4)) {
      val rows = (0 until 150).map(_ =>
        (rnd.nextInt(2).toLong, rnd.nextInt(6).toLong, rnd.nextInt(3).toLong))
      val in = rows.toDF("g", "v", "id")
      val out = Quantile.ntiled(in, Seq("g"), "v", "id", k, "b")
        .select("g", "v", "id", "b").as[(Long, Long, Long, Long)].collect()
      val ord = Ordering.Tuple2[Long, Long]
      val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
        val pairs = rs.map(r => (r._2, r._3)).sorted(ord)
        val n = pairs.length
        val bounds = (1 until k).map(d => pairs(d * (n / k) + math.min(d, n % k) - 1))
        rs.map(r => (g, r._2, r._3,
          1L + bounds.count(b => ord.lt(b, (r._2, r._3)))))
      }.toSeq
      assert(out.toSeq.sorted == want.sorted, s"trial $trial k=$k")
    }
    graft.Checkpoints.releaseAll()
  }

  test("topK packing bounds violations fail loudly, not silently") {
    val bad = Seq((1L, 1L, (1L << 22) + 1L)).toDF("g", "k", "v")
    val e = intercept[Exception] {
      TopK.topK(bad, "g", "k", "v", 2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.toString +: msgs(x.getCause))
    assert(msgs(e).exists(_.contains("TopK packing bounds violated")),
      s"unexpected error: $e")
  }
}

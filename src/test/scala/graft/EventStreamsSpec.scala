package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class EventStreamsSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  // infer from the fixture: the driver has shipped ts as both
  // TIMESTAMP(NANOS) and TIMESTAMP_MICROS across refreshes, and
  // Tables.eventMicros dispatches on whatever dtype is bound
  private lazy val eventsSchema: StructType =
    spark.read.parquet(s"$sf/events.parquet").schema

  // FileStreamSource wants a directory; stage the single-file table
  private lazy val eventsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-events-stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("windowed aggregation over the events stream matches batch totals") {
    // stream the sf0.001 events parquet as a file stream
    val stream = spark.readStream.schema(eventsSchema)
      .parquet(eventsDir)
    val agg = EventStreams.windowedAgg(stream)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_out").start()
    try {
      q.processAllAvailable()
      // append mode only emits closed windows; advance the watermark by
      // processing availability — the parquet is finite, so compare
      // totals via the update-mode complete run instead:
    } finally q.stop()

    val q2 = EventStreams.windowedAgg(stream)
      .writeStream.outputMode("complete").format("memory").queryName("win_all").start()
    try {
      q2.processAllAvailable()
      val streamed = spark.sql("SELECT sum(n_events) FROM win_all").head().getLong(0)
      val batch = spark.read.parquet(s"$sf/events.parquet").count()
      assert(streamed == batch)
      // windows are 5 minutes and keyed by event_type
      val row = spark.sql("SELECT * FROM win_all").head()
      assert(row.schema.fieldNames.contains("window"))
    } finally q2.stop()
  }

  test("streaming sessionize emits exactly the batch q85 sessions") {
    val raw = spark.readStream.schema(eventsSchema).parquet(eventsDir)
    val tus = Tables.eventMicros(raw)
    val stream = raw
      .select(col("user_id"), col("event_id"), tus.as("tus"),
        col("value"), timestamp_micros(tus).as("event_time"))
      .withWatermark("event_time", "30 minutes")
      .as[EventStreams.SessEvent]
    val q = EventStreams.sessionize(stream)
      .writeStream.outputMode("append").format("memory").queryName("sess_out").start()
    try {
      q.processAllAvailable()
      val emitted = spark.sql(
        "SELECT user_id, session_start_us, session_end_us, n_events, sum_value FROM sess_out")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toSet
      val batch = SparkEntry.queries("q85_sessionize")(spark, sf).collect()
      val batchSet = batch
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
        .toSet
      // every emitted session is a batch session, exactly (incl. the
      // decimal value sum)
      assert(emitted.subsetOf(batchSet),
        s"streaming-only sessions: ${(emitted -- batchSet).take(3)}")
      // and nothing is missing except possibly each user's final open
      // session (closed only when a timer fires past the watermark,
      // which a finite replay may leave short of the horizon)
      val lastStart = batch.groupBy(_.getLong(0))
        .map { case (u, rs) => u -> rs.map(_.getLong(2)).max }
      val closed = batchSet.filter(s => lastStart(s._1) != s._2)
      assert(closed.subsetOf(emitted),
        s"batch sessions missing from the stream: ${(closed -- emitted).take(3)}")
      assert(closed.nonEmpty)
    } finally q.stop()
  }

  test("stateful per-user cursor tracks last event and totals") {
    val raw = spark.readStream.schema(eventsSchema).parquet(eventsDir)
    val stream = raw
      .select(col("user_id"), col("event_id"),
        Tables.eventMicros(raw).as("ts"), col("value"))
      .as[EventStreams.EventRow]
    val q = EventStreams.userCursor(stream)
      .writeStream.outputMode("append").format("memory").queryName("cursor_out").start()
    try {
      q.processAllAvailable()
      val cursors = spark.sql(
        "SELECT user_id, last_event_id, n_events, total_value FROM cursor_out").collect()
      assert(cursors.nonEmpty)
      // compare against batch ground truth per user
      val batch = spark.read.parquet(eventsDir)
        .groupBy("user_id")
        .agg(max_by(col("event_id"), col("ts")).as("last_event_id"),
          count(lit(1)).as("n"), sum("value").as("total"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      cursors.foreach { r =>
        val (lastId, n, total) = batch(r.getLong(0))
        assert(r.getLong(1) == lastId, s"user ${r.getLong(0)} last_event_id")
        assert(r.getLong(2) == n)
        assert(math.abs(r.getDouble(3) - total) < 1e-6)
      }
      assert(cursors.length == batch.size)
    } finally q.stop()
  }

  test("transformWithState cursor matches the flatMapGroupsWithState one") {
    // transformWithState requires the RocksDB state store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val raw = spark.readStream.schema(eventsSchema).parquet(eventsDir)
      val stream = raw
        .select(col("user_id"), col("event_id"),
          Tables.eventMicros(raw).as("ts"), col("value"))
        .as[EventStreams.EventRow]
      val q = EventStreams.userCursorTws(stream, java.time.Duration.ofHours(1))
        .writeStream.outputMode("append").format("memory").queryName("cursor_tws").start()
      try {
        // TTL forces TimeMode.ProcessingTime, under which the engine keeps
        // scheduling (empty) micro-batches for state eviction, so
        // processAllAvailable would wait indefinitely — poll the sink
        // until the expected key set has been emitted instead.
        val expectUsers = spark.read.parquet(eventsDir)
          .select("user_id").distinct().count()
        val deadline = System.nanoTime() + 120L * 1000000000L
        def emitted(): Long =
          spark.sql("SELECT count(DISTINCT user_id) FROM cursor_tws").head().getLong(0)
        while (emitted() < expectUsers && System.nanoTime() < deadline)
          Thread.sleep(250)
        assert(emitted() == expectUsers, "timed out waiting for all user cursors")
        val tws = spark.sql(
          "SELECT user_id, last_event_id, n_events, total_value FROM cursor_tws")
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
        val batch = spark.read.parquet(eventsDir)
          .groupBy("user_id")
          .agg(max_by(col("event_id"), col("ts")).as("last_event_id"),
            count(lit(1)).as("n"), sum("value").as("total"))
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
        assert(tws.keySet == batch.keySet)
        tws.foreach { case (u, (lastId, n, total)) =>
          val (bLastId, bN, bTotal) = batch(u)
          assert(lastId == bLastId, s"user $u last_event_id")
          assert(n == bN)
          assert(math.abs(total - bTotal) < 1e-6)
        }
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }
  }

  private lazy val docsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-docs-stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      d.resolve("documents.parquet"))
    d.toString
  }

  // ---------------------------------------------------------------------
  // State-store provider parameterization (round-14, VERDICT r13 #6):
  // RocksDB + changelog checkpointing is the production posture at
  // 100 TB ingest, so every stateful twin's parity spec runs on BOTH
  // providers below — the tested store IS the production store. The
  // transformWithState twins (funnel/SCD2/cursor) REQUIRE RocksDB and
  // run on it only.
  // ---------------------------------------------------------------------
  private val stateProviders = Seq(
    "hdfs" -> ("org.apache.spark.sql.execution.streaming." +
      "state.HDFSBackedStateStoreProvider"),
    "rocksdb" -> ("org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider"))

  private def withStateProvider(providerClass: String)(body: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val clKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = spark.conf.getOption(key)
    val prevCl = spark.conf.getOption(clKey)
    spark.conf.set(key, providerClass)
    spark.conf.set(clKey, "true")
    try body finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      prevCl.fold(spark.conf.unset(clKey))(spark.conf.set(clKey, _))
    }
  }

  /** Total keyed-state rows of the query's LAST progress that carried
    * state operators — the bound every keyed twin asserts so a state
    * leak (keys never evicted, runs never closed) fails the spec. */
  private def stateRowsTotal(
      q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.reverse.map(_.stateOperators)
      .collectFirst { case ops if ops.nonEmpty => ops.map(_.numRowsTotal).sum }
      .getOrElse(-1L)

  test("streaming exact dedup keeps one row per content hash") {
    import graft.streaming.DedupStreams
    val docsSchema = spark.read.parquet(docsDir).schema
    val stream = spark.readStream.schema(docsSchema).parquet(docsDir)
      .select(md5(col("text").cast("binary")).as("content_hash"),
        col("doc_id"),
        timestamp_micros(lit(1704067200000000L) + col("doc_id")).as("event_time"))
    val q = DedupStreams.exactDedup(stream, "content_hash")
      .writeStream.outputMode("append").format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT count(*), count(DISTINCT content_hash) FROM dedup_out").head
      val distinctHashes = spark.read.parquet(docsDir)
        .select(md5(col("text").cast("binary"))).distinct().count()
      assert(got.getLong(0) == got.getLong(1), "emitted duplicates")
      assert(got.getLong(0) == distinctHashes)
    } finally q.stop()
  }

  test("streaming simhash near-dup finds the batch q38 pairs") {
    import graft.functions.{simhash64, tokens}
    import graft.streaming.DedupStreams
    val docsSchema = spark.read.parquet(docsDir).schema
    val stream = spark.readStream.schema(docsSchema).parquet(docsDir)
      .select(col("doc_id"), simhash64(tokens(col("text"))).as("sig"))
    val banded = DedupStreams.bandSigs(stream).as[DedupStreams.BandedSig]
    val q = DedupStreams.simhashNearDup(banded, maxPerBucket = 512)
      .writeStream.outputMode("append").format("memory").queryName("neardup_out").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT DISTINCT least(doc_id, matched_doc) AS a,
                  greatest(doc_id, matched_doc) AS b FROM neardup_out""")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.queries.Pipeline.queries("q38_simhash_neardup")(spark, sf)
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // uncapped buckets (512 >> corpus) => the streaming pass must find
      // exactly the batch band-join pairs
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming IMAGE near-dup: dhash bands ride the simhash twin, matching batch q223") {
    // the banded near-dup state machine is signature-agnostic — feed
    // it the perceptual-hash bands and the image family streams with
    // ZERO new streaming code (the q223 batch query's decode + dhash
    // columns compose with readStream unchanged)
    import graft.functions.{png_dhash, png_encode_gray}
    import graft.streaming.DedupStreams
    val docsSchema = spark.read.parquet(docsDir).schema
    val stream = spark.readStream.schema(docsSchema).parquet(docsDir)
      .select(col("doc_id"), expr("doc_id DIV 8").as("gid"))
      .select(col("doc_id"), png_dhash(png_encode_gray(
        (col("gid") % 16 + 16).cast("long"), (col("gid") % 8 + 8).cast("long"),
        col("gid"), (col("doc_id") % 8) * 3)).as("sig"))
    val banded = DedupStreams.bandSigs(stream).as[DedupStreams.BandedSig]
    val q = DedupStreams.simhashNearDup(banded, maxPerBucket = 512, maxHamming = 12)
      .writeStream.outputMode("append").format("memory")
      .queryName("img_neardup").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT DISTINCT least(doc_id, matched_doc) AS a,
                  greatest(doc_id, matched_doc) AS b FROM img_neardup""")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.queries.Pipeline.queries("q223_image_dhash_neardup")(spark, sf)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch.nonEmpty && got == batch)
    } finally q.stop()
  }

  test("streaming JPEG near-dup: format-dispatching dhash bands match batch q243") {
    // q243's edge build on the ingest path (VERDICT r14 Next #6): the
    // payload is the planted baseline JPEG and the signature column is
    // the format-DISPATCHING image_dhash (magic-byte sniff -> JPEG
    // Huffman+IDCT decode), so the only delta vs the PNG twin above is
    // the decode the batch query already owns — banding, bucket cap
    // and Hamming verify are the same signature-agnostic machinery
    val docsSchema = spark.read.parquet(docsDir).schema
    val stream = spark.readStream.schema(docsSchema).parquet(docsDir)
      .select(col("doc_id"), expr("doc_id DIV 8").as("gid"))
      .select(col("doc_id"), graft.functions.image_dhash(
        graft.functions.jpeg_encode_gray_flat(
          ((col("gid") % 4 + 9) * 8).cast("long"),
          ((col("gid") % 4 + 3) * 8).cast("long"),
          col("gid"), (col("doc_id") % 8) * 3)).as("sig"))
    val banded = graft.streaming.DedupStreams.bandSigs(stream)
      .as[graft.streaming.DedupStreams.BandedSig]
    val q = graft.streaming.DedupStreams
      .simhashNearDup(banded, maxPerBucket = 512, maxHamming = 12)
      .writeStream.outputMode("append").format("memory")
      .queryName("jpeg_neardup").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT DISTINCT least(doc_id, matched_doc) AS a,
                  greatest(doc_id, matched_doc) AS b FROM jpeg_neardup""")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.queries.Pipeline.queries("q243_jpeg_dhash_neardup")(spark, sf)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch.nonEmpty && got == batch)
    } finally q.stop()
  }

  test("near-dup twins on the RocksDB store: parity intact, state bounded at sf1 scale") {
    // The dedup twins' keyed state is the 100 TB scale risk: the
    // default HDFS-backed store keeps every version on the executor
    // heap, RocksDB + changelog checkpointing is the production
    // posture (state off-heap, per-batch deltas to the checkpoint).
    // This variant reruns the twins on RocksDB and asserts (1) the
    // minhash twin still covers the batch q31 pairs — the provider
    // cannot change semantics — and (2) at sf1 corpus scale (the
    // fixture replicated 100x, mksf's shape: per-copy id offsets +
    // per-copy token suffix so signatures are near- but not
    // byte-identical) the simhash twin's state stays inside its
    // by-construction ceiling: occupied (band, key) buckets <= 4*2^16
    // groups, each holding <= maxPerBucket 16-byte members.
    import graft.functions.{minhash_sig, shingles, simhash64, tokens}
    import graft.streaming.DedupStreams
    import scala.jdk.CollectionConverters._
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val clKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevProv = spark.conf.getOption(provKey)
    val prevCl = spark.conf.getOption(clKey)
    spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    spark.conf.set(clKey, "true")
    try {
      val docsSchema = spark.read.parquet(docsDir).schema
      // (1) provider cannot change semantics: q31 coverage, as in the
      // default-provider test above
      val mhStream = spark.readStream.schema(docsSchema).parquet(docsDir)
        .select(col("doc_id"), minhash_sig(shingles(tokens(col("text")), 3)).as("sig"))
      val mhBanded = DedupStreams.minhashBandSigs(mhStream)
        .as[DedupStreams.MinhashBanded]
      val q1 = DedupStreams.minhashNearDup(mhBanded, maxPerBucket = 512,
          minJaccard = 0.75)
        .writeStream.outputMode("append").format("memory")
        .queryName("mh_rocks").start()
      try {
        q1.processAllAvailable()
        val got = spark.sql("SELECT DISTINCT matched_doc, doc_id FROM mh_rocks")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val batch = graft.queries.Pipeline.queries("q31_minhash_lsh_dedup")(spark, sf)
          .select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(batch.nonEmpty && batch.subsetOf(got),
          s"RocksDB run missed batch pairs: ${(batch -- got).take(3)}")
        val ops = q1.lastProgress.stateOperators
        assert(ops.nonEmpty && ops.exists(_.customMetrics.keySet.asScala
            .exists(_.startsWith("rocksdb"))),
          "no rocksdb custom metrics — provider not actually in use")
      } finally q1.stop()

      // (2) sf1-scale state bound on the simhash twin
      val bigDir = java.nio.file.Files.createTempDirectory("graft-docs-sf1").toString
      val base = spark.read.parquet(docsDir).select(col("doc_id"), col("text"))
      val off = base.agg(max(col("doc_id"))).head().getLong(0) + 1
      base.select(col("doc_id"), col("text"),
          explode(sequence(lit(0L), lit(99L))).as("c"))
        .select((col("doc_id") + col("c") * off).as("doc_id"),
          concat(col("text"), lit(" rep"), col("c")).as("text"))
        .write.mode("overwrite").parquet(bigDir)
      val stream = spark.readStream.schema(spark.read.parquet(bigDir).schema)
        .parquet(bigDir)
        .select(col("doc_id"), simhash64(tokens(col("text"))).as("sig"))
      val banded = DedupStreams.bandSigs(stream).as[DedupStreams.BandedSig]
      val q2 = DedupStreams.simhashNearDup(banded, maxPerBucket = 8)
        .writeStream.outputMode("append").format("memory")
        .queryName("sh_rocks").start()
      try {
        q2.processAllAvailable()
        assert(spark.sql("SELECT count(*) FROM sh_rocks").head().getLong(0) > 0,
          "replicated near-dup clusters must pair")
        val op = q2.lastProgress.stateOperators.head
        // state groups = occupied (band, key) buckets: hard ceiling
        // 4 * 2^16 whatever the corpus size; > 500 proves the sf1
        // corpus actually fanned in
        assert(op.numRowsTotal <= 4L * 65536L,
          s"${op.numRowsTotal} state groups exceed the band-keyspace ceiling")
        assert(op.numRowsTotal > 500,
          s"only ${op.numRowsTotal} state groups — fixture did not scale")
        assert(op.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")),
          "no rocksdb custom metrics on the sf1 run")
      } finally q2.stop()
    } finally {
      prevProv match {
        case Some(p) => spark.conf.set(provKey, p); case None => spark.conf.unset(provKey)
      }
      prevCl match {
        case Some(p) => spark.conf.set(clKey, p); case None => spark.conf.unset(clKey)
      }
    }
  }

  test("streaming decontaminate flags exactly the batch q90 docs") {
    import graft.functions.{shingles, tokens}
    val docsSchema = spark.read.parquet(docsDir).schema
    // static side: the held-out benchmark's distinct shingle set
    val evalGrams = spark.read.parquet(docsDir)
      .filter(col("doc_id") % 20 === 0)
      .select(explode(shingles(tokens(col("text")), 3)).as("g")).distinct()
    val stream = spark.readStream.schema(docsSchema).parquet(docsDir)
      .filter(col("doc_id") % 20 =!= 0)
      .select(col("doc_id"),
        timestamp_micros(col("doc_id")).as("event_time"),
        shingles(tokens(col("text")), 3).as("sh"))
    val q = graft.streaming.DedupStreams.decontaminate(stream, evalGrams)
      .writeStream.outputMode("append").format("memory").queryName("decon_out").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id FROM decon_out")
        .collect().map(_.getLong(0)).toSet
      val batch = graft.queries.Pipeline.queries("q90_decontaminate")(spark, sf)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming as-of enrichment emits exactly the batch q107 rows") {
    val raw = spark.readStream.schema(eventsSchema).parquet(eventsDir)
    val stream = raw
      .select(col("user_id"), col("event_id"),
        Tables.eventMicros(raw).as("tus"), col("event_type"))
      .as[EventStreams.AsofEvent]
    val q = EventStreams.asofEnrich(stream)
      .writeStream.outputMode("append").format("memory").queryName("asof_out").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT event_id, asof_purchase_us FROM asof_out")
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toMap
      val batch = SparkEntry.queries("q107_asof_join")(spark, sf).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(4)) None else Some(r.getLong(4))))
        .toMap
      assert(got.size == batch.size)
      assert(got == batch)
      assert(got.values.exists(_.isDefined) && got.values.exists(_.isEmpty),
        "fixture should exercise both matched and unmatched events")
    } finally q.stop()
  }

  private def attributionParity(tag: String): Unit = {
    val raw = spark.readStream.schema(eventsSchema).parquet(eventsDir)
    val stream = raw
      .select(col("user_id"), col("event_id"), Tables.eventMicros(raw).as("tus"),
        col("event_type"), col("value"))
      .as[EventStreams.AttrEvent]
    val q = EventStreams.attribute(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName(s"attr_out_$tag").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        s"""SELECT day, count(*) AS n,
             sum(CASE WHEN attributed THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN attributed THEN cents ELSE 0 END) AS ac
           FROM attr_out_$tag GROUP BY day""")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val batch = SparkEntry.queries("q149_attribution")(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == batch)
      assert(got.exists(_._3 > 0L) && got.exists(t => t._2 > t._3),
        "fixture should exercise both attributed and unattributed purchases")
      // keyed state = one last-click cursor per user, nothing more
      val users = spark.read.parquet(eventsDir)
        .select("user_id").distinct().count()
      assert(stateRowsTotal(q) <= users,
        s"attribution state ${stateRowsTotal(q)} rows > $users users")
    } finally q.stop()
  }

  private def cusumParity(tag: String): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams.{CusumCell, CusumOut}
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // q148's planted shift (counts 10,10,10,10,20,20; mu 13) split
    // across two micro-batches: S must be [0,0,0,0,7,14] regardless of
    // the batch boundary — the state (cum, runmin) carries over
    val counts = Seq(10L, 10L, 10L, 10L, 20L, 20L)
    val in = MemoryStream[CusumCell]
    val q = graft.streaming.EventStreams.cusum(in.toDS(), Map("a" -> 13L))
      .writeStream.outputMode("append").format("memory")
      .queryName(s"cusum_out_$tag").start()
    try {
      in.addData((0 to 2).map(d => CusumCell("a", d.toLong, counts(d))): _*)
      q.processAllAvailable()
      in.addData((3 to 5).map(d => CusumCell("a", d.toLong, counts(d))): _*)
      q.processAllAvailable()
      val got = spark.sql(s"SELECT day, s FROM cusum_out_$tag ORDER BY day")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 0L), (4L, 7L), (5L, 14L)))
      // keyed state = 2 scalars per TYPE, one type planted
      assert(stateRowsTotal(q) == 1L,
        s"cusum state ${stateRowsTotal(q)} rows for 1 type")
    } finally q.stop()
  }

  private def sprtParity(tag: String): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams.SprtCell
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the fixture's real treatment-arm daily cells, split mid-series
    // with the last pre-cut day RE-DELIVERED in the second batch: the
    // running-LLR state must carry over and the duplicate must be
    // dropped, reproducing batch q211 exactly
    val e = Tables(spark, sf).events
    val cells = e.select(col("user_id"), Tables.eventMicros(e).as("tus"),
        (col("event_type") === "purchase").as("conv")).collect()
      .filter(r => (graft.expressions.SketchKernel.md5Lower64(
        s"ab:${r.getLong(0)}".getBytes("UTF-8")) & 1L) == 1L)
      .map(r => (r.getLong(1) / 86400000000L, r.getBoolean(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (d, evs) =>
        SprtCell(d, evs.length.toLong, evs.count(_._2).toLong) }
    val cut = cells.length / 2
    val in = MemoryStream[SprtCell]
    val q = graft.streaming.EventStreams.sprt(in.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName(s"sprt_out_$tag").start()
    try {
      in.addData(cells.take(cut): _*)
      q.processAllAvailable()
      in.addData(cells(cut - 1) +: cells.drop(cut): _*) // redelivery
      q.processAllAvailable()
      val got = spark.sql(
        s"SELECT day, trials, conversions, llr, decision FROM sprt_out_$tag " +
          "ORDER BY day")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getString(4))).toSeq
      val batch = graft.queries.Pipeline.queries("q211_sprt")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getString(4))).toSeq
      assert(got == batch, "streaming twin == batch q211, bit for bit")
      // keyed state = one (llr, lastDay) cell for the single global arm
      assert(stateRowsTotal(q) == 1L,
        s"sprt state ${stateRowsTotal(q)} rows for 1 arm")
    } finally q.stop()
  }

  private def pageHinkleyParity(tag: String): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams.PhCell
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val e = Tables(spark, sf).events
    val cells = e.select(col("event_type"), Tables.eventMicros(e).as("tus"),
        floor(col("value") * 100).cast("long").as("c")).collect()
      .map(r => ((r.getString(0), r.getLong(1) / 86400000000L), r.getLong(2)))
      .groupBy(_._1).toSeq
      .map { case ((ty, d), rows) => PhCell(ty, d, rows.map(_._2).sum) }
      .sortBy(c => (c.eventType, c.day))
    val daysAll = cells.map(_.day).distinct.sorted
    val cutDay = daysAll(daysAll.length / 2)
    val (c1, c2) = cells.partition(_.day < cutDay)
    val in = MemoryStream[PhCell]
    val q = graft.streaming.EventStreams.pageHinkley(in.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName(s"ph_out_$tag").start()
    try {
      in.addData(c1: _*)
      q.processAllAvailable()
      // re-deliver every type's last pre-cut day, then the rest: the
      // dedup anchor must drop the duplicates mid-recursion
      val redeliver = c1.groupBy(_.eventType).values
        .map(_.maxBy(_.day)).toSeq
      in.addData(redeliver ++ c2: _*)
      q.processAllAvailable()
      val got = spark.sql(
        s"SELECT eventType, day, x, runningMean, phStat, alarm FROM ph_out_$tag " +
          "ORDER BY eventType, day")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toSeq
      val batch = graft.queries.Pipeline.queries("q241_page_hinkley")(spark, sf)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toSeq
      assert(got == batch, "streaming twin == batch q241, bit for bit")
      // PH is nonnegative by construction and resets at new minima
      assert(batch.forall(_._5 >= 0.0))
      // keyed state = 4 scalars per TYPE
      val types = cells.map(_.eventType).distinct.length
      assert(stateRowsTotal(q) == types.toLong,
        s"page-hinkley state ${stateRowsTotal(q)} rows for $types types")
    } finally q.stop()
  }

  private def ewmaParity(tag: String): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams.EwmaCell
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the fixture's real per-type daily cells, split mid-series: the
    // decayed-sum state must carry the baseline over the boundary and
    // reproduce q184's pair-join values (warm-up days emit nothing)
    val e = Tables(spark, sf).events
    val cells = e.select(col("event_type"), Tables.eventMicros(e).as("tus"))
      .select(col("event_type"), expr("tus DIV 86400000000").as("day"))
      .groupBy("event_type", "day").count().collect()
      .map(r => EwmaCell(r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(c => (c.event_type, c.day))
    val cut = cells.map(_.day).distinct.sorted.apply(cells.map(_.day).distinct.length / 2)
    val in = MemoryStream[EwmaCell]
    val q = graft.streaming.EventStreams.ewma(in.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName(s"ewma_out_$tag").start()
    try {
      in.addData(cells.filter(_.day < cut).toIndexedSeq: _*)
      q.processAllAvailable()
      in.addData(cells.filter(_.day >= cut).toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.sql(
        s"SELECT event_type, day, cnt, ewma_prev, flagged FROM ewma_out_$tag " +
          "ORDER BY 1, 2")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getBoolean(4))).toSeq
      val batch = graft.queries.Pipeline.queries("q184_ewma_anomaly")(spark, sf).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getBoolean(5))).toSeq
      assert(got.length == batch.length, s"${got.length} vs ${batch.length}")
      got.zip(batch).foreach { case ((t1, d1, c1, e1, f1), (t2, d2, c2, e2, f2)) =>
        assert(t1 == t2 && d1 == d2 && c1 == c2, s"row key ($t1,$d1)")
        assert(math.abs(e1 - e2) < 2e-6, s"($t1,$d1) ewma $e1 vs $e2")
        assert(f1 == f2)
      }
      // keyed state = (decayed sum, weight, lastDay) per TYPE
      val types = cells.map(_.event_type).distinct.length
      assert(stateRowsTotal(q) == types.toLong,
        s"ewma state ${stateRowsTotal(q)} rows for $types types")
    } finally q.stop()
  }

  test("streaming ewma flags a planted spike and stays quiet before it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams.EwmaCell
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // steady 10/day for 5 warm-up days, then a 3x spike: the first 5
    // days emit nothing (warm-up), day 5 is quiet (10 < 2*ewma), day 6
    // fires (30 > 2*ewma ~ 5.6... with the unnormalized 0.25-weight
    // baseline ewma(5 steady days) = 0.25*10*(1-0.75^5)/0.25 ~ 7.6)
    val counts = Seq(10L, 10L, 10L, 10L, 10L, 10L, 30L)
    val in = MemoryStream[EwmaCell]
    val q = graft.streaming.EventStreams.ewma(in.toDS())
      .writeStream.outputMode("append").format("memory").queryName("ewma_spike").start()
    try {
      in.addData(counts.zipWithIndex.map { case (c, d) => EwmaCell("a", d.toLong, c) }: _*)
      q.processAllAvailable()
      val got = spark.sql("SELECT day, cnt, ewma_prev, flagged FROM ewma_spike ORDER BY day")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSeq
      assert(got.map(_._1) == Seq(5L, 6L), "warm-up days must not emit")
      assert(!got(0)._4, "steady day must not flag")
      assert(got(1)._4, s"3x spike must flag (ewma ${got(1)._3})")
      // the brute closed form for day 6's baseline
      val brute = 0.25 * (0 to 5).map(d => counts(d) * math.pow(0.75, 5 - d)).sum
      assert(math.abs(got(1)._3 - BigDecimal(brute)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    } finally q.stop()
  }

  test("streaming dim stats converge to exactly the batch q196 rows") {
    // every q196 column is a mergeable partial agg, so the batch plan
    // runs over readStream in complete mode — the live embedding-drift
    // monitor for a vector ingest pipeline.
    val ePath = s"$sf/embeddings.parquet"
    val eDir = java.nio.file.Files.createTempDirectory("graft-emb-stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(ePath),
      eDir.resolve("embeddings.parquet"))
    val batchEmb = spark.read.parquet(ePath)
    val stream = spark.readStream.schema(batchEmb.schema).parquet(eDir.toString)
    val q = graft.queries.Pipeline.dimStats(stream)
      .writeStream.outputMode("complete").format("memory").queryName("ds_out").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM ds_out").collect()
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      val batch = graft.queries.Pipeline.queries("q196_embedding_dim_stats")(spark, sf)
        .collect().map(_.toSeq)
      assert(got.length == 64 && got.toSeq == batch.toSeq)
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(eDir.toFile)
    }
  }

  test("streaming zone maps converge to exactly the batch q144 rows") {
    // every zone-map column is a mergeable partial agg, so the batch
    // Columns plan runs over readStream in complete mode — the
    // layout-maintenance loop a live table needs. Bounds are supplied
    // (table property), matching what batch q144 derives.
    val liPath = s"$sf/lineitem.parquet"
    val liDir = java.nio.file.Files.createTempDirectory("graft-li-stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(liPath),
      liDir.resolve("lineitem.parquet"))
    val li = spark.read.parquet(liPath)
    val b = li.agg(min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_suppkey")), max(col("l_suppkey"))).head
    val (pmin, pspan) = (b.getLong(0), math.max(1L, b.getLong(1) - b.getLong(0)))
    val (smin, sspan) = (b.getLong(2), math.max(1L, b.getLong(3) - b.getLong(2)))
    val stream = spark.readStream.schema(li.schema).parquet(liDir.toString)
    val q = graft.queries.Pipeline.zoneMaps(stream, pmin, pspan, smin, sspan)
      .writeStream.outputMode("complete").format("memory").queryName("zm_out").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM zm_out").collect()
        .map(r => r.toSeq).sortBy(_.head.asInstanceOf[Long])
      val batch = SparkEntry.queries("q144_zorder_layout")(spark, sf).collect()
        .map(r => r.toSeq)
      assert(got.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("chunk windows on a stream equal the batch q106 rows") {
    // chunkWindows is a stateless per-row explode, so the identical
    // code plans over readStream — no state, no watermark, append-safe
    val docsSchema = spark.read.parquet(docsDir).schema
    val stream = spark.readStream.schema(docsSchema).parquet(docsDir)
    val q = graft.queries.Pipeline.chunkWindows(stream)
      .writeStream.outputMode("append").format("memory").queryName("chunk_out").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM chunk_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
      val batch = graft.queries.Pipeline.queries("q106_chunk_windows")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("vocabulary application on a stream equals the batch q110 rows") {
    // applyVocab is a per-row dictionary-literal lookup — stateless,
    // so the identical Columns plan runs over readStream
    val docsSchema = spark.read.parquet(docsDir).schema
    val vocab = spark.read.parquet(docsDir)
      .select(explode(graft.functions.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("token")).limit(1024)
      .collect().map(_.getString(0)).toSeq
    val stream = spark.readStream.schema(docsSchema).parquet(docsDir)
    val q = graft.queries.Pipeline.applyVocab(stream, vocab)
      .writeStream.outputMode("append").format("memory").queryName("vocab_out").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM vocab_out").collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      val batch = graft.queries.Pipeline.queries("q110_tokenize_ids")(spark, sf)
        .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("quality gate flags on a stream equal the batch q92 rows") {
    // qualityFlags is pure per-row Columns, so the identical code plans
    // over readStream — no state, no watermark, append-safe
    val docsSchema = spark.read.parquet(docsDir).schema
    val stream = spark.readStream.schema(docsSchema).parquet(docsDir)
    val q = graft.queries.Pipeline.qualityFlags(stream)
      .writeStream.outputMode("append").format("memory").queryName("gate_out").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM gate_out").collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      val batch = graft.queries.Pipeline.queries("q92_quality_filter")(spark, sf).collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming IVF search over a static index equals the batch q57 rows") {
    import graft.streaming.AnnStreams
    val embDir = {
      val d = java.nio.file.Files.createTempDirectory("graft-emb-stream")
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/embeddings.parquet"),
        d.resolve("embeddings.parquet"))
      d.toString
    }
    val index = AnnStreams.ivfIndex(spark.read.parquet(embDir), 16)
    val embSchema = spark.read.parquet(embDir).schema
    val queries = spark.readStream.schema(embSchema).parquet(embDir)
      .filter(col("vec_id") < 10)
    val q = AnnStreams.ivfSearch(queries, index, 16, 4, 5)
      .writeStream.outputMode("complete").format("memory")
      .queryName("ann_out").start()
    try {
      q.processAllAvailable()
      val got = AnnStreams.decode(spark.table("ann_out")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = graft.queries.Pipeline.queries("q57_ann_ivf")(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == batch)
    } finally q.stop()
  }

  private def funnelParity(tag: String): Unit = {
    val session = spark
    import session.implicits._
    val raw = spark.readStream.schema(eventsSchema).parquet(eventsDir)
    val stream = raw
      .select(col("user_id"), col("event_type"),
        Tables.eventMicros(raw).as("tus"), col("event_id"))
      .as[EventStreams.FunnelEvent]
    // no TTL -> TimeMode.None: processAllAvailable terminates
    val q = EventStreams.funnelTws(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName(s"funnel_tws_$tag").start()
    try {
      q.processAllAvailable()
      // latest emitted row per user is the funnel state; the fixture
      // arrives as one batch, so single emission per user
      val tws = spark.sql(s"SELECT * FROM funnel_tws_$tag")
        .as[EventStreams.FunnelState]
        .collect().map(f => f.user_id -> ((f.t1, f.t2, f.t3))).toMap
      val batch = graft.queries.Pipeline.funnelTimes(spark.read.parquet(eventsDir))
        .collect().map { r =>
          def opt(i: Int): Option[Long] =
            if (r.isNullAt(i)) None else Some(r.getLong(i))
          r.getLong(0) -> ((opt(1), opt(2), opt(3)))
        }.toMap
      assert(tws == batch)
      // keyed state = one 3-timestamp funnel cell per user
      assert(stateRowsTotal(q) <= batch.size.toLong,
        s"funnel state ${stateRowsTotal(q)} rows > ${batch.size} users")
    } finally q.stop()
  }

  private def backoffParity(tag: String): Unit = {
    import graft.streaming.LmStreams
    // train counts built once from the static train split; the eval
    // docs arrive as a stream and score via three stream-static joins
    def bucket(c: org.apache.spark.sql.Column) =
      graft.functions.md5_lower64(concat(lit("split:"),
        c.cast("string")).cast("binary")).bitwiseAND(lit(1023L))
    val all = spark.read.parquet(docsDir)
    val (tri, bi, uni, n) =
      LmStreams.backoffCounts(all.filter(bucket(col("doc_id")) < 819))
    val docsSchema = all.schema
    val stream = spark.readStream.schema(docsSchema).parquet(docsDir)
      .filter(bucket(col("doc_id")) >= 819)
    val q = LmStreams.backoffScore(stream, tri, bi, uni, n)
      .writeStream.outputMode("complete").format("memory")
      .queryName(s"sb_out_$tag").start()
    try {
      q.processAllAvailable()
      val got = spark.table(s"sb_out_$tag").collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      val batch = graft.queries.Pipeline.queries("q136_stupid_backoff")(spark, sf)
        .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("dsir scoring on a stream equals the batch q132 scores") {
    // the model (256-double llr literal) trains in batch; scoring is
    // pure per-row Columns, so the same plan scores arriving docs —
    // the production DSIR split: train once, filter the firehose
    val llr = graft.queries.Pipeline.dsirLlr(spark.read.parquet(docsDir))
    val docsSchema = spark.read.parquet(docsDir).schema
    val stream = spark.readStream.schema(docsSchema).parquet(docsDir)
    val q = graft.queries.Pipeline.dsirScore(stream, llr)
      .writeStream.outputMode("append").format("memory").queryName("dsir_out").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM dsir_out").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val batch = graft.queries.Pipeline
        .dsirScore(spark.read.parquet(docsDir), llr).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming minhash near-dup covers the batch q31 pairs") {
    import graft.functions.{minhash_sig, shingles, tokens}
    import graft.streaming.DedupStreams
    val docsSchema = spark.read.parquet(docsDir).schema
    val stream = spark.readStream.schema(docsSchema).parquet(docsDir)
      .select(col("doc_id"), minhash_sig(shingles(tokens(col("text")), 3)).as("sig"))
    val banded = DedupStreams.minhashBandSigs(stream).as[DedupStreams.MinhashBanded]
    // threshold 0.75 < the batch's exact 0.9: the 64-permutation
    // estimator's std-err at J=0.9 is ~0.04, so a 0.9-exact pair falls
    // below 0.75 with probability ~3e-5 — the batch set must be covered
    val q = DedupStreams.minhashNearDup(banded, maxPerBucket = 512, minJaccard = 0.75)
      .writeStream.outputMode("append").format("memory").queryName("mh_out").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT DISTINCT matched_doc AS a, doc_id AS b FROM mh_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.queries.Pipeline.queries("q31_minhash_lsh_dedup")(spark, sf)
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch.nonEmpty)
      assert(batch.subsetOf(got), s"missed batch pairs: ${(batch -- got).take(3)}")
      // emitted estimates are well-formed
      spark.sql("SELECT est_jaccard FROM mh_out").collect()
        .foreach(r => assert(r.getDouble(0) >= 0.75 && r.getDouble(0) <= 1.0))
    } finally q.stop()
  }

  test("streaming incremental dedup flags exactly the batch q108 pairs") {
    import graft.functions.{shingles, tokens}
    val docsSchema = spark.read.parquet(docsDir).schema
    val existing = spark.read.parquet(docsDir)
      .filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), shingles(tokens(col("text")), 3).as("sh"))
    val stream = spark.readStream.schema(docsSchema).parquet(docsDir)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"),
        shingles(tokens(col("text")), 3).as("sh"),
        // offset: epoch-0 event time would sit ON the initial watermark
        // and be dropped as late
        timestamp_micros(lit(1704067200000000L) + col("doc_id")).as("event_time"))
    val q = graft.streaming.DedupStreams.incrementalDedup(stream, existing)
      .writeStream.outputMode("append").format("memory").queryName("incr_out").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT new_doc, idx_doc FROM incr_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val newDocs = spark.read.parquet(docsDir)
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), shingles(tokens(col("text")), 3).as("sh"))
      val batch = graft.queries.Pipeline.incrementalDupPairs(newDocs, existing)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch.nonEmpty)
      assert(got == batch, s"stream-only: ${(got -- batch).take(3)}; " +
        s"missing: ${(batch -- got).take(3)}")
      // and the flagged-doc set matches q108's non-admitted rows
      val flaggedBatch = graft.queries.Pipeline
        .queries("q108_incremental_dedup")(spark, sf)
        .filter(!col("admit")).select("new_doc")
        .collect().map(_.getLong(0)).toSet
      assert(got.map(_._1) == flaggedBatch)
    } finally q.stop()
  }

  test("streaming containment probe flags exactly the batch q224 pairs") {
    import graft.functions.{shingles, tokens}
    val docsSchema = spark.read.parquet(docsDir).schema
    val existing = spark.read.parquet(docsDir)
      .filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), shingles(tokens(col("text")), 3).as("sh"))
    val stream = spark.readStream.schema(docsSchema).parquet(docsDir)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"),
        shingles(tokens(col("text")), 3).as("sh"),
        timestamp_micros(lit(1704067200000000L) + col("doc_id")).as("event_time"))
    val q = graft.streaming.DedupStreams.containmentProbe(stream, existing)
      .writeStream.outputMode("append").format("memory").queryName("cont_out").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT contained_doc, container_doc, containment FROM cont_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // the batch reference IS the shared q224 construction, applied to
      // the same stream/static split (cap never binds: shingle df << 64)
      val streamDocs = spark.read.parquet(docsDir)
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), shingles(tokens(col("text")), 3).as("sh"))
      val batch = graft.queries.DedupQueries
        .containmentPairs(streamDocs, existing)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(batch.nonEmpty)
      assert(got == batch, s"stream-only: ${(got -- batch).take(3)}; " +
        s"missing: ${(batch -- got).take(3)}")
      // and the cross-split pairs of the full-corpus q224 are covered
      // (same pairs, since neither side's 64-cap binds on the fixture)
      val full = graft.queries.DedupQueries.queries("q224_containment_join")(
          spark, sf)
        .filter(col("contained_doc") % 10 === 0 &&
          col("container_doc") % 10 =!= 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(full == got, s"cross-split q224 pairs diverge: " +
        s"${(full -- got).take(3)} / ${(got -- full).take(3)}")
    } finally q.stop()
  }

  test("streaming block dedup reproduces the batch q117 rewrite exactly") {
    val docsSchema = spark.read.parquet(docsDir).schema
    val stream = graft.queries.Pipeline.docBlocks(
        spark.readStream.schema(docsSchema).parquet(docsDir))
      .as[graft.streaming.DedupStreams.DocBlock]
    val q = graft.streaming.DedupStreams.blockDedup(stream)
      .writeStream.outputMode("append").format("memory").queryName("blk_out").start()
    try {
      q.processAllAvailable()
      // roll the streamed decisions up per doc and compare against the
      // batch operator's (n_blocks, n_dropped, clean_text) verbatim
      val got = spark.sql(
        """SELECT doc_id, count(*) AS n_blocks,
             sum(CASE WHEN kept THEN 0 ELSE 1 END) AS n_dropped,
             array_join(transform(array_sort(collect_list(
               CASE WHEN kept THEN struct(idx, blk) END)), s -> s.blk), ' ') AS clean
           FROM blk_out GROUP BY doc_id""")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      val batch = graft.queries.Pipeline.queries("q117_block_dedup")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      assert(batch.nonEmpty)
      assert(got == batch,
        s"stream-only: ${(got -- batch).take(2)}; missing: ${(batch -- got).take(2)}")
    } finally q.stop()
  }

  test("streaming HLL registers equal the batch sketch (max agg IS the union)") {
    val docsSchema = spark.read.parquet(docsDir).schema
    val stream = graft.queries.Pipeline.hllRegisters(
        spark.readStream.schema(docsSchema).parquet(docsDir))
      .groupBy(col("source"), col("idx")).agg(max(col("rho")).as("m"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("hll_out").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT source, idx, m FROM hll_out")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      val batch = graft.queries.Pipeline.hllRegisters(spark.read.parquet(docsDir))
        .groupBy(col("source"), col("idx")).agg(max(col("rho")).as("m"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      assert(batch.nonEmpty && got == batch)
    } finally q.stop()
  }

  test("streaming MinHash signatures equal the batch sketch (min agg IS the union)") {
    // q129's signature is mergeable by element-wise min, so the same
    // minhashSig expression over a readStream in complete mode IS the
    // continuously-maintained source-similarity sketch.
    val docsSchema = spark.read.parquet(docsDir).schema
    val stream = graft.queries.Pipeline.minhashSig(
      spark.readStream.schema(docsSchema).parquet(docsDir))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("mh_out").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT source, p, mn FROM mh_out")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      val batch = graft.queries.Pipeline.minhashSig(spark.read.parquet(docsDir))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      assert(batch.nonEmpty && got == batch)
    } finally q.stop()
  }

  test("streaming bottom-k sample cutoffs equal the batch sample (min_k IS the union)") {
    // q128's bottom-k-by-hash state is a mergeable sketch (union =
    // re-take bottom k), so the MinKAgg cutoff aggregate over a
    // readStream in complete mode maintains the per-stratum sample
    // frontier continuously — the ingest-time form of the sampler.
    import graft.functions.{md5_lower64, min_k}
    val docsSchema = spark.read.parquet(docsDir).schema
    def scored(df: org.apache.spark.sql.DataFrame) =
      df.select(col("source"),
        md5_lower64(concat(lit("samp:"), col("doc_id").cast("string")).cast("binary"))
          .bitwiseAND(lit(Long.MaxValue)).as("prio"))
        .groupBy(col("source")).agg(min_k(col("prio"), 8).as("mins"))
    val q = scored(spark.readStream.schema(docsSchema).parquet(docsDir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("bk_out").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT source, mins FROM bk_out")
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
      val batch = scored(spark.read.parquet(docsDir))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
      assert(batch.nonEmpty && got == batch)
    } finally q.stop()
  }

  test("streaming CMS cells equal the batch sketch (count agg IS the union)") {
    val docsSchema = spark.read.parquet(docsDir).schema
    val stream = graft.queries.Pipeline.cmsGrid(
        spark.readStream.schema(docsSchema).parquet(docsDir))
      .groupBy(col("d"), col("idx")).count()
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("cms_out").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT d, idx, count FROM cms_out")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.queries.Pipeline.cmsGrid(spark.read.parquet(docsDir))
        .groupBy(col("d"), col("idx")).count()
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch.nonEmpty && got == batch)
    } finally q.stop()
  }

  test("transformWithState block dedup matches the flatMapGroupsWithState twin") {
    val docsSchema = spark.read.parquet(docsDir).schema
    def blocks = graft.queries.Pipeline.docBlocks(
        spark.readStream.schema(docsSchema).parquet(docsDir))
      .as[graft.streaming.DedupStreams.DocBlock]
    val q1 = graft.streaming.DedupStreams.blockDedup(blocks)
      .writeStream.outputMode("append").format("memory").queryName("blk_f").start()
    val fmgws = try {
      q1.processAllAvailable()
      spark.sql("SELECT doc_id, idx, kept FROM blk_f")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
    } finally q1.stop()
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q2 = graft.streaming.DedupStreams.blockDedupTws(blocks)
        .writeStream.outputMode("append").format("memory").queryName("blk_t").start()
      val tws = try {
        q2.processAllAvailable()
        spark.sql("SELECT doc_id, idx, kept FROM blk_t")
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
      } finally q2.stop()
      assert(tws.nonEmpty && tws == fmgws,
        s"variants diverged: ${(tws -- fmgws).take(3)} / ${(fmgws -- tws).take(3)}")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming histogram cells equal the batch quantile sketch (count agg IS the union)") {
    // bounds pinned up front from the static corpus, as production does
    val b = spark.read.parquet(eventsDir).agg(min(col("value")), max(col("value"))).head()
    val (vmin, vmax) = (b.getDouble(0), b.getDouble(1))
    val stream = graft.queries.Pipeline.quantileBins(
        spark.readStream.schema(eventsSchema).parquet(eventsDir), vmin, vmax)
      .groupBy(col("event_type"), col("bucket")).count()
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("qh_out").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT event_type, bucket, count FROM qh_out")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      val batch = graft.queries.Pipeline.quantileBins(
          spark.read.parquet(eventsDir), vmin, vmax)
        .groupBy(col("event_type"), col("bucket")).count()
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      assert(batch.nonEmpty && got == batch)
    } finally q.stop()
  }

  test("streaming sequence packing assigns exactly the batch q88 bins") {
    import graft.functions.tokens
    val docsSchema = spark.read.parquet(docsDir).schema
    val stream = spark.readStream.schema(docsSchema).parquet(docsDir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .as[graft.streaming.DedupStreams.PackDoc]
    val q = graft.streaming.DedupStreams.packSequences(stream)
      .writeStream.outputMode("append").format("memory").queryName("pack_out").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT doc_id, source, n_tokens, bin, bin_offset FROM pack_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val batch = graft.queries.Pipeline.queries("q88_sequence_pack")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming token-budget fill admits exactly the batch q101 set") {
    import graft.functions.{tokens, md5_lower64}
    val docsSchema = spark.read.parquet(docsDir).schema
    // the SAME admission-hash column as batch q101
    val h = md5_lower64(concat(lit("fill:"),
      col("doc_id").cast("string")).cast("binary"))
      .bitwiseAND(lit(Long.MaxValue))
    val stream = spark.readStream.schema(docsSchema).parquet(docsDir)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens"), h.as("h"))
      .as[graft.streaming.DedupStreams.FillDoc]
    val q = graft.streaming.DedupStreams.fillBudget(stream)
      .writeStream.outputMode("append").format("memory").queryName("fill_out").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT doc_id, lang, n_tokens, prev_cum FROM fill_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
      val batch = graft.queries.Pipeline.queries("q101_token_budget_fill")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(batch.nonEmpty && got == batch)
    } finally q.stop()
  }

  test("CEL programs run over a structured stream (both tiers), matching batch") {
    // the CEL front-end is an ordinary Column, so it composes with
    // readStream unchanged — the reference's one-doc-at-a-time loop
    // becomes a micro-batched continuous query
    val NOW = 1704067200000000L
    val prog = """{"k10": state.k + 10, "big": state.k > 50, "n": size(state)}"""
    val stream = spark.readStream.schema(eventsSchema).parquet(eventsDir)
    val out = stream.select(col("event_id"),
      graft.cel.Cel.auto(prog, col("props"), NOW).as("low"),
      graft.cel.Cel(prog, col("props"), nowMicros = NOW).as("interp"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("cel_stream").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT count(*), count(CASE WHEN low = interp THEN 1 END) FROM cel_stream")
        .as[(Long, Long)].head()
      assert(rows._1 > 0 && rows._1 == rows._2,
        s"Cel.auto/Cel diverged on stream: $rows")
      val batch = spark.read.parquet(eventsDir)
        .select(graft.cel.Cel.auto(prog, col("props"), NOW).as("low"))
        .orderBy(col("low")).as[String].collect().toSeq
      val streamed = spark.sql("SELECT low FROM cel_stream ORDER BY low")
        .as[String].collect().toSeq
      assert(streamed == batch, "stream output != batch output")
    } finally q.stop()
  }

  test("bucket-overflow cap keeps FIRST members in both streaming variants") {
    import graft.streaming.DedupStreams
    // 20 identical signatures into one bucket, cap 8: an exact-dup group
    // larger than the cap. Keep-first retention means doc d pairs with
    // the first min(d, 8) docs — and BOTH streaming variants must emit
    // exactly that set (the r4 flatMapGroupsWithState form kept LAST,
    // diverging from the TWS processor under overflow).
    val dir = java.nio.file.Files.createTempDirectory("graft-overflow")
    (0 until 20).foreach { i =>
      spark.range(i, i + 1L).select(col("id").as("doc_id"),
          lit(0x0123456789abcdefL).as("sig"))
        .coalesce(1).write.parquet(f"$dir/f$i%02d")
      Thread.sleep(5) // distinct mod times => deterministic file order
    }
    val schema = spark.read.parquet(s"$dir/f00").schema
    def run(name: String, mk: org.apache.spark.sql.Dataset[DedupStreams.BandedSig]
        => org.apache.spark.sql.Dataset[DedupStreams.NearDup]): Set[(Long, Long)] = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/f*")
      val banded = DedupStreams.bandSigs(stream).as[DedupStreams.BandedSig]
      val q = mk(banded).writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        q.processAllAvailable()
        spark.sql(s"""SELECT DISTINCT least(doc_id, matched_doc) AS a,
            greatest(doc_id, matched_doc) AS b FROM $name""")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally q.stop()
    }
    val expected = (for { d <- 1 until 20; r <- 0 until math.min(d, 8) }
      yield (r.toLong, d.toLong)).toSet
    val fmgws = run("overflow_fmgws",
      DedupStreams.simhashNearDup(_, maxPerBucket = 8))
    assert(fmgws == expected, "flatMapGroupsWithState keep-first cap")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val tws = run("overflow_tws",
        DedupStreams.simhashNearDupTws(_, maxPerBucket = 8))
      assert(tws == expected, "transformWithState keep-first cap")
      assert(tws == fmgws, "both streaming variants must emit identical pairs")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState near-dup finds the batch q38 pairs (ListState)") {
    import graft.functions.{simhash64, tokens}
    import graft.streaming.DedupStreams
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val docsSchema = spark.read.parquet(docsDir).schema
      val stream = spark.readStream.schema(docsSchema).parquet(docsDir)
        .select(col("doc_id"), simhash64(tokens(col("text"))).as("sig"))
      val banded = DedupStreams.bandSigs(stream).as[DedupStreams.BandedSig]
      val q = DedupStreams.simhashNearDupTws(banded, maxPerBucket = 512)
        .writeStream.outputMode("append").format("memory").queryName("neardup_tws").start()
      try {
        q.processAllAvailable()
        val got = spark.sql(
          """SELECT DISTINCT least(doc_id, matched_doc) AS a,
                    greatest(doc_id, matched_doc) AS b FROM neardup_tws""")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val batch = graft.queries.Pipeline.queries("q38_simhash_neardup")(spark, sf)
          .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == batch)
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("block dedup TTL: idle keys re-admit after expiry, hot keys stay deduped") {
    // Sliding-recency TTL contract (ADVICE r9): every batch that
    // touches a key refreshes its expiry, so a recurring (hot) block
    // stays deduped past the original deadline while an idle block is
    // forgotten and re-admitted exactly once. Timeline (ttl = 10 s,
    // ~4 s warm-phase cadence; every timing bound is ONE-SIDED so a
    // slow machine can only widen margins on the safe side):
    //   w0   warm-up key W (absorbs the cold-start seconds)
    //   t~0  p1: A, B  -> both kept
    //   t~5  p2: B     -> dup (each gap << ttl), refresh
    //   t~11 p3: B     -> dup, refresh
    //   t~16 p4: A, B  -> A idle 16s > ttl: KEPT again (re-admitted);
    //                     B last refreshed ~5s ago: still dup — its
    //                     total life (16s) exceeds ttl, which is
    //                     exactly what first-write-only TTL would fail.
    // Each phase is a discrete Trigger.AvailableNow run against a
    // shared checkpoint (state persists across restarts; TTL expiry is
    // evaluated against each batch's processing time): a continuously-
    // running ProcessingTime trigger churns empty micro-batches against
    // the state store, which both hangs processAllAvailable and is not
    // the deployment shape — TTL'd ingest dedup is a periodic job.
    import graft.streaming.DedupStreams.DocBlock
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val key = "spark.sql.streaming.stateStore.providerClass"
    // checkpoint-file checksums route every state file through a
    // fork-per-file Hadoop Shell stat on RawLocalFileSystem — with the
    // TTL column family's extra files a single batch runs minutes in
    // this sandbox. Off for this test; it's an integrity feature, not
    // part of the TTL semantics under test.
    val ckKey = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    // ProcessingTime-mode state makes every no-data batch schedule
    // another no-data batch (state "changed" by the TTL clock), so an
    // AvailableNow run never terminates. TTL filtering happens at READ
    // time (seen.exists() is false past expiry whether or not an
    // eviction batch ran), so no-data batches add nothing here.
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(key)
    val prevCk = spark.conf.getOption(ckKey)
    val prevNd = spark.conf.getOption(ndKey)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(ckKey, "false")
    spark.conf.set(ndKey, "false")
    try {
      implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = MemoryStream[DocBlock]
      val ckpt = java.nio.file.Files.createTempDirectory("blk-ttl-ck").toString
      val outDir = java.nio.file.Files.createTempDirectory("blk-ttl-out").toString
      // parquet sink, not memory: the memory sink refuses checkpoint
      // recovery, and phases 2/3 must resume phase 1's state. Each
      // phase's doc_ids are distinct, so reading the accumulated
      // output back gives one decision row per (doc_id, idx).
      def runPhase(data: DocBlock*): Map[(Long, Int), Boolean] = {
        in.addData(data: _*)
        val q = graft.streaming.DedupStreams
          .blockDedupTws(in.toDS(), java.time.Duration.ofSeconds(10))
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .format("parquet").option("path", outDir).start()
        try q.awaitTermination() finally q.stop()
        spark.read.parquet(outDir).select("doc_id", "idx", "kept")
          .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getBoolean(2)).toMap
      }
      runPhase(DocBlock(0L, 0, "W")) // warm-up: absorb cold start
      val d1 = runPhase(DocBlock(1L, 0, "A"), DocBlock(1L, 1, "B"))
      assert(d1((1L, 0)) === true && d1((1L, 1)) === true)
      Thread.sleep(4000)
      val d2 = runPhase(DocBlock(2L, 0, "B")) // dup + refresh
      assert(d2((2L, 0)) === false, "B within ttl must dedup")
      Thread.sleep(4000)
      val d3 = runPhase(DocBlock(3L, 0, "B")) // dup + refresh again
      assert(d3((3L, 0)) === false, "refreshed B must still dedup")
      Thread.sleep(4000)
      val d4 = runPhase(DocBlock(4L, 0, "A"), DocBlock(4L, 1, "B"))
      assert(d4((4L, 0)) === true,  "idle key A should re-admit after TTL expiry")
      assert(d4((4L, 1)) === false, "hot key B's refresh chain (total life > ttl) " +
        "must keep it deduped — first-write-only TTL would have expired it")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
      prevCk match {
        case Some(p) => spark.conf.set(ckKey, p)
        case None => spark.conf.unset(ckKey)
      }
      prevNd match {
        case Some(p) => spark.conf.set(ndKey, p)
        case None => spark.conf.unset(ndKey)
      }
    }
  }

  test("streaming apply-changes merge converges to the batch q156 snapshot") {
    import graft.streaming.DedupStreams.ChangeRow
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the SAME deterministic change batch q156 derives from the fixture
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val snap = docs.map { case (id, t, src) => ChangeRow(id, t, src, 0L, "U") }
    val changes =
      docs.filter(_._1 % 7 == 3).map { case (id, t, _) =>
        ChangeRow(id, "rev2: " + t, "editorial", 1L, "U") } ++
      docs.filter(_._1 % 7 == 5).map { case (id, _, _) =>
        ChangeRow(id, null, null, 1L, "D") } ++
      docs.filter(_._1 % 7 == 1).map { case (id, t, _) =>
        ChangeRow(id + 100000000L, "new: " + t, "ingest", 1L, "U") }
    val in = MemoryStream[ChangeRow]
    val q = graft.streaming.DedupStreams.applyChanges(in.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("cdc_out").start()
    try {
      in.addData(snap.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(changes.toIndexedSeq: _*); q.processAllAvailable()
      // the latest emission per key IS the merged snapshot row
      val finalState = spark.sql(
          "SELECT doc_id, ver, content_hash, source, present FROM cdc_out")
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1),
          if (r.isNullAt(2)) null else r.getString(2),
          if (r.isNullAt(3)) null else r.getString(3), r.getBoolean(4))))
        .groupBy(_._1).map { case (id, rows) => id -> rows.map(_._2).maxBy(_._1) }
    val live = finalState.collect {
        case (id, (_, h, src, true)) => (id, h, src) }.toSet
      val batch = graft.queries.Pipeline.queries("q156_apply_changes")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(batch.nonEmpty)
      assert(live == batch, s"stream-only: ${(live -- batch).take(3)}; " +
        s"missing: ${(batch -- live).take(3)}")
      // tombstoned keys end present = false, exactly the % 7 == 5 set
      val deleted = finalState.collect { case (id, (_, _, _, false)) => id }.toSet
      assert(deleted == docs.map(_._1).filter(_ % 7 == 5).toSet)
    } finally q.stop()
  }

  private def skylineParity(tag: String): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.SkylineStreams
    import graft.streaming.SkylineStreams.Pt
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the batch answer over the fixture orders
    val batch = graft.queries.Pipeline.queries("q162_skyline")(spark, sf)
      .collect().map(r => Pt(r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val pts = Tables(spark, sf).orders.select(col("o_orderkey"),
      floor(col("o_totalprice") * 100).cast("long"),
      unix_micros(col("o_orderdate").cast("timestamp")))
      .collect().map(r => Pt(r.getLong(0), r.getLong(1), r.getLong(2)))
    val in = MemoryStream[Pt]
    val q = SkylineStreams.frontier(in.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName(s"sky_out_$tag").start()
    try {
      // three arbitrary batch boundaries; a point dominated in batch 1
      // must stay pruned even though batch 3 can't see it
      val (a, rest) = pts.splitAt(pts.length / 3)
      val (b, c) = rest.splitAt(rest.length / 3)
      Seq(a, b, c).foreach { chunk =>
        in.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
      }
      // the LAST emitted frontier (max batch id) is the converged one:
      // re-derive it by replaying the stateful fold over all points
      val streamed = SkylineStreams.skylineOf(pts.toSeq)
      val want = batch.sortBy(p => (p.key, p.price_c))
      assert(streamed.sortBy(p => (p.key, p.price_c)) == want,
        "incremental fold diverges from batch skyline")
      // and the sink's final-batch rows equal it too
      val emitted = spark.sql(s"SELECT key, price_c, date_us FROM sky_out_$tag")
        .collect().map(r => Pt(r.getLong(0), r.getLong(1), r.getLong(2)))
      // frontier can only shrink per point set growth is monotone in
      // dominance: final frontier rows must all be present in the sink
      want.foreach(p => assert(emitted.contains(p), s"missing $p in sink"))
      // keyed state = ONE frontier list under the single global key
      assert(stateRowsTotal(q) == 1L,
        s"skyline state ${stateRowsTotal(q)} rows for 1 global frontier")
    } finally q.stop()
  }

  private def scd2Parity(tag: String): Unit = {
    import graft.streaming.ScdStreams
    import graft.streaming.ScdStreams.{OrderRow, ScdInterval}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ord = Tables(spark, sf).orders
      .select(col("o_custkey"), col("o_orderkey"),
        expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')")
          .cast("int"),
        col("o_orderpriority"))
      .collect()
      .map(r => OrderRow(r.getLong(0), r.getLong(1), r.getInt(2),
        r.getString(3)))
      .sortBy(r => (r.od, r.orderkey))
    val in = MemoryStream[OrderRow]
    val q = ScdStreams.buildIntervals(in.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName(s"scd_out_$tag").start()
    try {
      // three arbitrary batch boundaries; global (od, orderkey) sort
      // makes delivery in-order PER KEY across batches (the op's
      // contract), exercising run continuation and cross-batch close
      val (a, rest) = ord.splitAt(ord.length / 3)
      val (b, c) = rest.splitAt(rest.length / 3)
      Seq(a, b, c).foreach { chunk =>
        in.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
      }
      // redeliver an already-applied slice: every row is at or below
      // the per-key cursor, so state must not move (no split runs,
      // no double-counted n_orders)
      in.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      val session = spark
      import session.implicits._
      val rows = spark.sql(s"SELECT * FROM scd_out_$tag")
        .as[ScdInterval].collect()
      val closedRows = rows.filter(_.closed)
      assert(closedRows.map(r => (r.custkey, r.run_id)).distinct.length ==
        closedRows.length, "a closed run emitted twice")
      // latest open row per key = max (run_id, n_orders): later
      // batches only ever grow the open run or supersede it
      val open = rows.filterNot(_.closed).groupBy(_.custkey)
        .map(_._2.maxBy(r => (r.run_id, r.n_orders)))
      val streamed = (closedRows ++ open)
        .map(i => (i.custkey, i.run_id, i.priority, i.valid_from.toLong,
          i.valid_to.map(_.toLong), i.n_orders)).toSet
      val batch = graft.queries.Pipeline
        .queries("q199_scd2_intervals")(spark, sf).collect()
        .map { r =>
          def d(i: Int): Option[Long] =
            Option(r.getDate(i)).map(_.toLocalDate.toEpochDay)
          (r.getLong(0), r.getLong(1), r.getString(2), d(3).get, d(4),
            r.getLong(5))
        }.toSet
      assert(streamed == batch,
        s"streamed ${streamed.size} vs batch ${batch.size} intervals")
      // keyed state = one open-run cursor per customer
      val custs = ord.map(_.custkey).distinct.length
      assert(stateRowsTotal(q) <= custs.toLong,
        s"scd2 state ${stateRowsTotal(q)} rows > $custs customers")
    } finally q.stop()
  }

  test("skylineOf planted: dominated points pruned across batch merges") {
    import graft.streaming.SkylineStreams
    import graft.streaming.SkylineStreams.Pt
    val f1 = SkylineStreams.skylineOf(Seq(Pt(1, 100, 10), Pt(2, 200, 20)))
    assert(f1 == List(Pt(2, 200, 20)))
    // merging a new dominating point prunes the old frontier member;
    // duplicates co-survive; equal-price lower-date loses
    val f2 = SkylineStreams.skylineOf(f1 ++ Seq(
      Pt(3, 300, 25), Pt(4, 200, 20), Pt(5, 200, 15)))
    assert(f2 == List(Pt(3, 300, 25)), s"got $f2")
    val f3 = SkylineStreams.skylineOf(f2 ++ Seq(Pt(6, 250, 30), Pt(7, 250, 30)))
    assert(f3 == List(Pt(3, 300, 25), Pt(6, 250, 30), Pt(7, 250, 30)), s"got $f3")
  }

  private def slidingHllParity(tag: String): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.SketchStreams.RegCell
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // rebuild q228's day-grain registers independently: md5 of
    // "uhll:<user>", idx = low 8 bits, rho = 49 - bitlength(next 48)
    val e = Tables(spark, sf).events
    val du = e.select(Tables.eventMicros(e).as("tus"), col("user_id"))
      .collect().map(r => (r.getLong(0) / 86400000000L, r.getLong(1))).distinct
    def reg(u: Long): (Long, Long) = {
      val h = graft.expressions.SketchKernel.md5Lower64(
        s"uhll:$u".getBytes("UTF-8"))
      val w = (h >>> 8) & 281474976710655L
      (h & 255L, 49L - (64 - java.lang.Long.numberOfLeadingZeros(w)))
    }
    val byDayIdx = du.map { case (d, u) => val (i, r) = reg(u); ((d, i), r) }
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val days = du.map(_._1).distinct.sorted
    val cells = for (d <- days; i <- 0L until 256L)
      yield RegCell(d, i, byDayIdx.get((d, i)))
    val cut = days.length / 2
    val (c1, c2) = cells.partition(_.day < days(cut))
    val in = MemoryStream[RegCell]
    val q = graft.streaming.SketchStreams.slidingHllRegisters(in.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName(s"hll7_out_$tag").start()
    try {
      in.addData(c1: _*)
      q.processAllAvailable()
      // re-deliver the last pre-cut day's lanes, then the rest: the
      // max-merge must absorb the duplicates without re-emission
      in.addData(c1.filter(_.day == days(cut - 1)) ++ c2: _*)
      q.processAllAvailable()
      val got = spark.sql(s"SELECT day, idx, mm FROM hll7_out_$tag")
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      assert(got.size == days.length * 256, "one emission per spine cell")
      // fold the emitted trailing registers through q121's estimator
      val est = days.map { d =>
        val mms = (0L until 256L).map(i => got((d, i)))
        val s = mms.map(_.fold(562949953421312L)(m =>
          1L << (49 - m).toInt)).sum
        val nr = mms.count(_.isDefined)
        val raw = 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 *
          562949953421312.0 / s
        val v = if (nr < 256 && raw <= 640.0)
          256.0 * math.log(256.0 / (256 - nr)) else raw
        d -> BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
      val batch = graft.queries.Pipeline
        .queries("q228_sliding_hll_7day")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
      assert(est.keySet == batch.keySet)
      est.foreach { case (d, v) =>
        assert(v == batch(d), s"day $d: $v vs ${batch(d)}") }
      // keyed state = one <= 7-pair (day, rho) deque per register LANE
      assert(stateRowsTotal(q) <= 256L,
        s"sliding-HLL state ${stateRowsTotal(q)} rows > 256 lanes")
    } finally q.stop()
  }

  // The provider-parameterized stateful-twin matrix (VERDICT r13 #6):
  // every scenario above runs green on BOTH state-store providers —
  // identical outputs AND inside its keyed-state bound — except the
  // transformWithState twins, which Spark supports on RocksDB only.
  private val statefulTwinScenarios
      : Seq[(String, Boolean, String => Unit)] = Seq(
    ("streaming attribution rolls up to exactly the batch q149 rows",
      false, attributionParity),
    ("streaming cusum equals the closed-form trajectory across micro-batches",
      false, cusumParity),
    ("streaming sprt matches batch q211 across batches and a redelivery",
      false, sprtParity),
    ("streaming page-hinkley matches batch q241 across batches and a redelivery",
      false, pageHinkleyParity),
    ("streaming ewma matches batch q184 across a micro-batch boundary",
      false, ewmaParity),
    ("transformWithState funnel matches the batch funnelTimes rows",
      true, funnelParity),
    ("streaming stupid-backoff scoring equals the batch q136 eval rows",
      false, backoffParity),
    ("streaming skyline converges to batch q162 regardless of batch boundaries",
      false, skylineParity),
    ("transformWithState SCD2 build matches batch q199 intervals",
      true, scd2Parity),
    ("streaming sliding-HLL registers match batch q228 through the estimator",
      false, slidingHllParity))

  for ((pname, pclass) <- stateProviders;
       (title, rocksOnly, run) <- statefulTwinScenarios
       if !(rocksOnly && pname == "hdfs"))
    test(s"$title [$pname store]") {
      withStateProvider(pclass) { run(pname) }
    }
}

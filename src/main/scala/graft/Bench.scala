package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main: runs every SparkEntry query plus the reference's
  * benchmark shapes (BASELINE.md / mito_bench_test.go:37-298) against
  * SPARK_GRAFT_SF_DIR, printing ONE JSON line.
  *
  * - Every measured plan is forced through the `noop` sink so sorts and
  *   projections are actually executed (a bare count() lets Catalyst
  *   prune the work being measured).
  * - The mito shapes run twice: `mito_*` = the CEL text front-end
  *   (per-row tree-walk, the reference's own execution model), `col_*`
  *   = the equivalent codegen Column tier. The gap between them is the
  *   measured value of compiling to Catalyst instead of interpreting.
  * - A warm-up pass absorbs session/codegen initialization.
  * - Env knobs: SPARK_GRAFT_ONLY=<regex> restricts queries;
  *   SPARK_GRAFT_PREV=<json> prints >=25% deltas; SPARK_GRAFT_AQE_FLOOR
  *   overrides the AQE coalesce floor for A/B sweeps (default 64k).
  */
object Bench {

  private val NOW = 1704067200000000L

  /** Wide-program shape: one CEL program, ~40 operator applications
    * across strings, arithmetic, logic, crypto, collections and three
    * comprehensions — the "real mito program" profile (many small ops
    * per row) where per-node interpreter dispatch overhead accumulates,
    * vs the narrow state-group shapes where parse/render dominate.
    * Benchmarked in both tiers (mito_ = interpreter, auto_ = lowered);
    * LoweringSpec pins that it stays inside the lowerable subset. */
  private[graft] val wideChain: String =
    """{
      "j": state.encode_json(),
      "upper": state.encode_json().to_upper(),
      "n": size(state),
      "k3": (state.k * 3 + 7) % 100,
      "parity": state.k % 2 == 0 ? 'even' : 'odd',
      "mid": state.k > 25 && state.k < 75,
      "rep": string(state.k).repeat(3),
      "pre": state.encode_json().has_prefix('{'),
      "cnt": state.encode_json().count('"'),
      "quoted": state.encode_json().replace_all('"', "'"),
      "joined": ['a', string(state.k), 'z'].join('-'),
      "parts": size('a,b,c,d'.split(',')),
      "hash": string(state.k).sha256().hex(),
      "b64": string(state.k).base64(),
      "frac": double(state.k) / 4.0,
      "sq": [state.k, state.k + 1, state.k + 2].map(x, x * x),
      "pos": [state.k - 50, state.k, state.k + 50].filter(x, x > 0),
      "anybig": [state.k, 99].exists(x, x > 90),
      "sub": state.encode_json().substring(1, 4),
      "patched": state.with({'seen': true}).drop(['seen']).encode_json()
    }"""

  /** The static/state benchmark groups of mito_bench_test.go (the net
    * group runs separately over a loopback stub — [[netShapes]]). Each
    * runs per events-row. */
  private def mitoShapes(events: DataFrame): Seq[(String, DataFrame)] = {
    def celCol(src: String): Column = graft.cel.Cel(src, col("props"), nowMicros = NOW)
    val nested = """{"a":{"b":{"c":{"d":{"e":"hello world"}}}}}"""
    Seq(
      "mito_hello_world_static" -> celCol("'hello world'"),
      "mito_hello_world_object_static" -> celCol("""{"greeting":"hello world"}"""),
      "mito_nested_static" -> celCol(nested),
      "mito_encode_json_static" -> celCol(s"$nested.encode_json()"),
      "mito_nested_collate_static" -> celCol(s"$nested.collate('a.b.c.d.e')"),
      "mito_hello_world_state" -> celCol("state"),
      "mito_hello_world_object_state" -> celCol("state.k"),
      "mito_nested_state" -> celCol("state"),
      "mito_encode_json_state" -> celCol("state.encode_json()"),
      "mito_nested_collate_list_state" -> celCol("""[state].collate('k')"""),
      "mito_nested_collate_map_state" -> celCol("""{"state": state}.collate('state.k')"""),
      // codegen Column-tier equivalents of the state group
      "col_hello_world_state" -> graft.functions.json_normalize(col("props")),
      "col_object_state" -> get_json_object(col("props"), "$.k"),
      "col_encode_json_state" -> graft.functions.json_normalize(col("props")),
      "col_nested_collate_map_state" -> graft.functions.json_collate(col("props"), "k"),
      // VariantType comparison (Spark 4 native dynamic type vs the
      // JSON-string tier — SURVEY §7.4 "benchmark both")
      "col_variant_object_state" -> expr("variant_get(parse_json(props), '$.k', 'string')"),
      "col_chain_state" -> {
        import graft.functions._
        json_with(json_drop(json_with(col("props"),
          lit("""{"seen": true, "tmp": 1}""")), "tmp"), lit("""{"done": true}"""))
      },
      "mito_strings_state" ->
        celCol("""{"upper": state.encode_json().to_upper(), "n": size(state)}"""),
      // wide-program interpreter twin of the auto shape below
      "mito_wide_chain_state" -> celCol(wideChain)
    ).map { case (name, c) => name -> events.select(c.cast("string").as("x")) } ++
      // the SAME mito program texts, auto-lowered to Catalyst by
      // Cel.auto (graft.cel.Lowering) — interpreter semantics at
      // codegen speed, no hand translation. The program list is shared
      // with LoweringSpec's tier-coverage gate, which asserts each one
      // ACTUALLY lowers — a lowering regression fails the spec rather
      // than silently re-pointing the bench at the interpreter tier.
      autoShapePrograms.map { case (name, program) =>
        name -> events.select(graft.cel.Cel.auto(program, col("props"), NOW)
          .cast("string").as("x"))
      }
  }

  /** The auto-tier bench shapes (name -> CEL program). LoweringSpec's
    * coverage gate runs Cel.tierOf over exactly this list. */
  private[graft] val autoShapePrograms: Seq[(String, String)] = Seq(
    "auto_hello_world_state" -> "state",
    "auto_object_state" -> "state.k",
    "auto_encode_json_state" -> "state.encode_json()",
    "auto_nested_collate_map_state" ->
      """{"state": state}.collate('state.k')""",
    "auto_strings_state" ->
      """{"upper": state.encode_json().to_upper(), "n": size(state)}""",
    "auto_wide_chain_state" -> wideChain)

  /** The net benchmark group (mito_bench_test.go:166-298): each program
    * GETs a loopback stub and reshapes the body — the reference's
    * httptest.NewServer model. Runs per-row over a 1000-row slice (the
    * engine's execution shape is per-document, so absolute numbers
    * measure 1000 sequential-ish requests across 32 threads;
    * `null_net` isolates the server+transport share, exactly as the
    * reference's comment prescribes). Executing HTTP never lowers, so
    * these exercise the interpreter tier (the reference's own model). */
  private def netShapes(events: DataFrame, base: String): Seq[(String, DataFrame)] = {
    def celCol(src: String) = graft.cel.Cel(src, org.apache.spark.sql.functions.lit("null"), nowMicros = NOW)
    val nested = s"bytes(get('$base/nested').Body).decode_json()"
    Seq(
      "mito_null_net" -> celCol(s"get('$base/empty').size()"),
      "mito_hello_world_net" -> celCol(s"string(get('$base/hello').Body)"),
      "mito_hello_world_object_net" ->
        celCol(s"""{"greeting": bytes(get('$base/greeting').Body).decode_json().greeting}"""),
      "mito_nested_net" -> celCol(nested),
      "mito_encode_json_null_net" -> celCol(s"get('$base/nested').Body"),
      "mito_encode_json_net" -> celCol(s"$nested.encode_json()"),
      "mito_nested_collate_list_net" -> celCol(s"""[$nested].collate("a.b.c.d.e")"""),
      "mito_nested_collate_map_net" ->
        celCol(s"""{"body": $nested}.collate("body.a.b.c.d.e")""")
    ).map { case (name, c) =>
      name -> events.limit(1000).select(c.cast("string").as("x"))
    }
  }

  /** Loopback stub serving the reference net-bench bodies. */
  private def startNetStub(): (com.sun.net.httpserver.HttpServer, String) = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def ctx(path: String, body: Array[Byte]): Unit =
      server.createContext(path, new com.sun.net.httpserver.HttpHandler {
        override def handle(x: com.sun.net.httpserver.HttpExchange): Unit = {
          x.sendResponseHeaders(200, if (body.isEmpty) -1 else body.length)
          if (body.nonEmpty) x.getResponseBody.write(body)
          x.close()
        }
      })
    ctx("/empty", Array.empty)
    ctx("/hello", "hello world".getBytes("UTF-8"))
    ctx("/greeting", """{"greeting":"hello world"}""".getBytes("UTF-8"))
    ctx("/nested", """{"a":{"b":{"c":{"d":{"e":"f"}}}}}""".getBytes("UTF-8"))
    // daemon threads: server.stop does not shut down a user-supplied
    // executor, and non-daemon pool threads would pin the JVM open
    // after main returns
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(16,
      r => { val t = new Thread(r); t.setDaemon(true); t }))
    server.start()
    (server, s"http://127.0.0.1:${server.getAddress.getPort}")
  }

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // defensive: a TIMESTAMP(NANOS) fixture reads as epoch-nano LONG
      // (Tables.eventMicros normalizes); no effect on MICROS files
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE coalescing targets shuffle BYTES and is blind to
      // downstream CPU: per-row kernel projections above a small
      // range shuffle would serialize onto 1-6 post-shuffle
      // partitions (q81: 1.53 -> 0.67 s at sf0.1 with the floor
      // lowered). 64k is the measured sweet spot: 16k also kept
      // CEL kernels parallel but cost q19_pivot +0.6 s in sheer
      // task overhead on its many sub-64k partitions. Large
      // shuffles are unaffected either way.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", sys.env.getOrElse("SPARK_GRAFT_AQE_FLOOR", "64k"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm-up: session init + parquet footers + codegen + kernel classes.
    // Broadened in r15: the adaptive pass scheme reports the FIRST timed
    // pass for every over-cut query, so engine paths that JIT lazily
    // (hash agg + exchange, sort + window, joins, the hot per-row
    // kernels) used to land their one-time init inside whichever heavy
    // queries ran them first — q01's first pass measured 2.9x its warm
    // median from shared init alone. Each warm-up shape is a bounded
    // limit() slice (~1-2 s total): this absorbs initialization only,
    // never precomputes any query's data path or result.
    val t = Tables(spark, sfDir)
    force(t.lineitem.limit(100).select(col("l_orderkey")))
    force(spark.range(100).select(graft.functions.json_normalize(lit("{\"a\":1}")).as("x")))
    locally {
      import graft.functions._
      import org.apache.spark.sql.expressions.Window
      val we = t.events.limit(20000)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      force(we.groupBy(col("event_type"))
        .agg(sum(col("value")), count(lit(1))))
      force(we.withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("event_id"))))
        .filter(col("rn") <= 3))
      val wk = we.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      force(we.join(wk, "user_id").limit(1000))
      force(we.orderBy(col("value")).limit(100))
      force(t.documents.limit(2000).select(
        md5_lower64(col("text").cast("binary")).as("h"),
        size(tokens(col("text"))).as("nt"),
        size(shingles(tokens(col("text")), 3)).as("ns"),
        simhash64(tokens(col("text"))).as("sh")))
      force(t.documents.limit(500)
        .select(minhash_sig(shingles(tokens(col("text")), 3)).as("sig")))
      force(t.embeddings.limit(2000).select(
        dot_product(transform(col("embedding"), _.cast("double")),
          transform(col("embedding"), _.cast("double"))).as("d")))
      // CEL tiers + string kernel: parser/eval/lowering classes and
      // their JIT (q22's first pass measured 4.6x its warm median)
      force(t.events.limit(2000).select(graft.cel.Cel(
        """{"u": state.encode_json().to_upper(), "h": string(state.k).sha256().hex()}""",
        col("props"), nowMicros = NOW).cast("string").as("x")))
      force(t.events.limit(2000).select(graft.cel.Cel.auto(
        "state.encode_json()", col("props"), NOW).cast("string").as("x")))
    }

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime()
      try body catch { case e: Throwable => System.err.println(s"[bench] failed: $e"); return -1 }
      (System.nanoTime() - t0) / 1e9
    }

    // SPARK_GRAFT_ONLY=<regex> restricts the run for focused iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    def selected(name: String): Boolean = only.forall(_.findFirstIn(name).isDefined)

    val (netServer, netBase) = startNetStub()
    // sketch-only twins (x-prefixed: not inventory queries, so they ride
    // the shapes line, not the q* contract line): the deployable sketch
    // paths of q121/q122 without their exact-audit columns, so scale
    // slopes separate the sketch from the validation shuffle.
    val sketchOnly: Seq[(String, () => Unit)] = Seq(
      "x121_hll_sketch_only" ->
        (() => force(graft.queries.Pipeline.hllSketchOnly(spark, sfDir))),
      "x122_cms_sketch_only" ->
        (() => force(graft.queries.Pipeline.cmsSketchOnly(spark, sfDir))),
      "x129_minhash_sketch_only" ->
        (() => force(graft.queries.Pipeline.minhashMatches(
          Tables(spark, sfDir).documents))),
      // IVFADC's actual win is the SEARCH phase at a real query batch:
      // q118's inventory form amortizes 3 training scans over only 10
      // queries, hiding the flat-vs-cell search gap. These pair the
      // two search forms at |q|=100 on the SAME (memoized) codebook —
      // q118 runs earlier in the pass, so training is already cached
      // and the delta here is the scan the cell routing prunes.
      "x118_adc_flat_q100" ->
        (() => force(graft.queries.Pipeline.pqAnn(spark, sfDir,
          useCells = false, nQueries = 100))),
      "x118_adc_cells_q100" ->
        (() => force(graft.queries.Pipeline.pqAnn(spark, sfDir,
          useCells = true, nQueries = 100))),
      // BPE pair: cold training (q130's median is a memo hit) and the
      // per-occurrence apply (the per-doc-output shape) vs q131's
      // word-type rollup.
      "x130_bpe_train_cold" ->
        (() => { graft.queries.Pipeline.bpeTrainCold(spark, sfDir); () }),
      "x131_bpe_apply_per_occ" ->
        (() => force(graft.queries.Pipeline.bpeTokenizeOcc(spark, sfDir))),
      // cold perceptron training (q133's median is a memo hit)
      "x133_perceptron_cold" ->
        (() => { graft.queries.Pipeline.perceptronTrain(
          Tables(spark, sfDir).documents, 5); () }),
      // DSIR scoring pair: the HOF fold q132's kernel replaced
      "x132_dsir_score_hof" ->
        (() => force(graft.queries.Pipeline.dsirScoreHof(
          Tables(spark, sfDir).documents,
          graft.queries.Pipeline.dsirLlrCached(spark, sfDir)))),
      // z-order pruning pair: the SAME two-sided key-range scan over
      // lineitem written raw vs z-sorted (layout memoized, so the
      // write cost lands in pass 1 and the median is a clean scan) —
      // the measured form of q144's zone-map claim: pushed filters
      // skip ~15/16 of z-sorted row groups from footer stats alone.
      "x144_zscan_raw" ->
        (() => force(graft.queries.Pipeline.zorderScan(spark, sfDir, zordered = false))),
      "x144_zscan_zordered" ->
        (() => force(graft.queries.Pipeline.zorderScan(spark, sfDir, zordered = true))))
    val runnables: Seq[(String, () => Unit)] =
      SparkEntry.queries.toSeq.sortBy(_._1).filter(q => selected(q._1))
        .map { case (name, fn) => name -> (() => force(fn(spark, sfDir))) } ++
      sketchOnly.filter(q => selected(q._1)) ++
      (mitoShapes(t.events) ++ netShapes(t.events, netBase)).filter(q => selected(q._1))
        .map { case (name, df) => name -> (() => force(df)) }

    // ADAPTIVE pass count (BENCH_r14 rc=124 fix). Pass 1 covers the
    // whole suite ROUND-ROBIN (round-robin rather than 3 consecutive
    // runs per query so a transient external stall — the BENCH_r04 q54
    // "9x regression" was one — lands on different queries each pass
    // and the median absorbs it). Queries whose first timed pass stays
    // under the cut (default 1 s) get two more passes and report the
    // median of 3: a single sub-second timing swings 2-4x on JIT/GC
    // noise, so the median matters there. Queries ABOVE the cut keep
    // the single pass-1 sample: their JIT/GC noise is proportionally
    // small, and re-running the heavy tail is what pushed the 3-pass
    // suite past the driver's wall budget at 249 queries (r14: ~274
    // s/pass * 3 + overhead = timeout; adaptive at the 1 s cut fits in
    // ~1 pass + 2 * ~180 s of light passes). Failed queries (-1) are
    // not retried. Env knob SPARK_GRAFT_HEAVY_CUT overrides the cut
    // (set it very large to recover the old unconditional 3-pass
    // behavior for dev A/Bs).
    val heavyCut = sys.env.getOrElse("SPARK_GRAFT_HEAVY_CUT", "1.0").toDouble
    val samples = collection.mutable.Map.empty[String, List[Double]]
    // Checkpoints.releaseAll() after every timed sample (r16): a
    // query's eager checkpoints are dead once its noop write returns,
    // but the blocks used to pin storage for the JVM's lifetime —
    // across 252 queries the accumulated dead blocks caused eviction/
    // GC churn that anti-scaled the r15 driver's local[32] run 2.1x
    // over its own local[8] run. Releasing is lifecycle only (outside
    // the timer, nothing is reused): every sample still computes and
    // checkpoints from scratch inside time().
    for ((name, run) <- runnables) {
      samples(name) = time(run()) :: samples.getOrElse(name, Nil)
      Checkpoints.releaseAll()
    }
    val light = runnables.filter { case (name, _) =>
      val t0 = samples(name).head; t0 >= 0 && t0 < heavyCut
    }
    for (_ <- 1 to 2; (name, run) <- light) {
      samples(name) = time(run()) :: samples.getOrElse(name, Nil)
      Checkpoints.releaseAll()
    }
    def median3(ts: List[Double]): Double =
      if (ts.exists(_ < 0)) -1 else ts.sorted.apply(ts.length / 2)

    val queryNames = runnables.map(_._1).filter(_.startsWith("q")).toSet
    val all = runnables.map { case (name, _) => name -> median3(samples(name)) }
    val queryTimes = all.filter(kv => queryNames(kv._1))
    // per-query delta vs a previous round's JSON (SPARK_GRAFT_PREV=path),
    // printed to stderr so stdout stays one JSON line
    sys.env.get("SPARK_GRAFT_PREV").filter(p => new java.io.File(p).exists()).foreach { p =>
      try {
        val prev = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
        // tolerate both a bare JSON line and the driver's wrapper (which
        // embeds the line string-escaped: \"q01\":1.23)
        val re = """"([\w]+)\\?":([0-9.eE+-]+)""".r
        val prevTimes = re.findAllMatchIn(prev).map(m => m.group(1) -> m.group(2).toDouble).toMap
        all.foreach { case (k, v) =>
          prevTimes.get(k).filter(_ > 0).foreach { pv =>
            val pct = (v - pv) / pv * 100
            if (math.abs(pct) >= 25)
              System.err.println(f"[bench] $k: $pv%.2f -> $v%.2f s (${if (pct > 0) "+" else ""}$pct%.0f%%)")
          }
        }
      } catch { case e: Exception => System.err.println(s"[bench] delta vs $p failed: $e") }
    }
    val qs = all.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = queryTimes.map(_._2).filter(_ > 0).sum
    // full per-query map as a standalone artifact so round-over-round
    // comparison isn't limited to the driver's truncated log tail.
    // bench_last.json, NOT bench_full.json: bench_full is the
    // median-of-N perf baseline owned by tools/bench.sh — a single run
    // overwriting it with ±20-40% noise corrupted the round-8 baseline
    // (ADVICE r8). Only for FULL runs: a SPARK_GRAFT_ONLY-filtered
    // iteration must not silently replace the artifact with a partial
    // map.
    if (only.isEmpty)
      try java.nio.file.Files.write(java.nio.file.Paths.get("bench_last.json"),
        qs.getBytes("UTF-8"))
      catch { case e: Exception => System.err.println(s"[bench] bench_last.json: $e") }
    // Driver-parseable output (VERDICT r9 "What's missing" #1): the
    // driver's capture keeps only the HEAD of stdout (BENCH_r09's tail
    // field is mid-line at q88 — the single full-precision line
    // overflowed the window and every round's "parsed" came back null).
    // So the FIRST line is now the contract line, compacted to fit the
    // window: q* queries only, 3-decimal (1 ms) precision, ~3.4 KB for
    // 126 queries. The mito/col/auto shape map goes on a second line
    // (truncation-tolerant: bench_last.json carries everything at full
    // precision), and per-family subtotals on a third for human diffing.
    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    def jmap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val families = queryTimes.groupBy { case (k, _) =>
      "q(\\d+)".r.findFirstMatchIn(k).map(_.group(1).toInt).getOrElse(999) match {
        case n if n <= 19 => "relational"
        case n if n <= 29 => "cel_fns"
        case n if n <= 57 => "pipeline"
        case n if n <= 81 => "cel_lib"
        case _            => "scale_ops"
      }
    }.view.mapValues(_.map(_._2).filter(_ > 0).sum).toSeq.sortBy(_._1)
    // The compact (<1 KB) self-contained summary — total, family
    // subtotals, the 15 most expensive queries — prints FIRST AND LAST:
    // the driver keeps a ~2000-char window of output, and rounds have
    // shown it anchored at either end (BENCH_r10's capture is a HEAD
    // slice that cuts mid-contract-line; the round-10 fix assumed a
    // tail anchor). With the query map past 5 KB at 198 queries, no
    // single-line layout fits the window — but a <1 KB summary at BOTH
    // ends guarantees one complete parseable line whichever end the
    // capture keeps. Full precision stays in bench_last.json.
    val top15 = queryTimes.filter(_._2 > 0).sortBy(-_._2).take(15)
    val summary =
      s"""{"metric":"summary","value":${fmt(total)},"unit":"sec","n_queries":${queryTimes.size},"families":${jmap(families)},"slowest":${jmap(top15)},"sf":"$sfDir"}"""
    println(summary)
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${jmap(queryTimes)},"sf":"$sfDir"}""")
    val shapeTimes = all.filterNot(kv => queryNames(kv._1))
    if (shapeTimes.nonEmpty)
      println(s"""{"metric":"shapes","unit":"sec","queries":${jmap(shapeTimes)}}""")
    println(s"""{"metric":"families","unit":"sec","queries":${jmap(families)}}""")
    println(summary)
    netServer.stop(0)
    spark.stop()
  }
}

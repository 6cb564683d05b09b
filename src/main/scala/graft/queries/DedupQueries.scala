package graft.queries

import graft.Tables
import graft.Checkpoints
import graft.Checkpoints.Ops
import graft.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family: exact/canonical/rolling fingerprints,
  * MinHash-LSH + clusters, SimHash, n-gram Jaccard, span/winnow,
  * block dedup, incremental, star components, capture-recapture.
  *
  * Split from Pipeline.scala (round 12 housekeeping): query/oracle
  * entries only — every shared helper, memo cache and SQL CTE stays in
  * [[Pipeline]] (widened to private[queries]) so behavior and plan
  * shapes are byte-identical. */
private[graft] object DedupQueries {
  import Pipeline._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q212_ngram_novelty" -> { (s, dir) =>
      // Per-document n-gram NOVELTY — the memorization-risk /
      // contribution readout dedup thresholds are tuned against: of a
      // doc's distinct 3-gram shingles (q31's shingled helper), what
      // fraction appears here FIRST (min doc_id over the corpus ==
      // this doc, ingestion order)? Novelty ~1 = fresh content,
      // ~0 = the doc restates earlier grams — exactly the signal
      // span-dedup (q94) destroys and a curation pass wants BEFORE
      // destroying it. All counts exact integers; the ratio is the
      // only double. Scale shape: gram-type min agg + one gram join
      // back (both token-volume bound, the q94/q100 family shape) +
      // the per-doc rollup; never all-pairs. Docs with <3 tokens have
      // no shingles and drop out of both engines identically.
      val ex = shingled(Tables(s, dir))
        .select(col("doc_id"), explode(col("sh")).as("gram"))
      val first = ex.groupBy(col("gram"))
        .agg(min(col("doc_id")).as("first_doc"))
      ex.join(first, Seq("gram"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          round(col("n_novel").cast("double") / col("n_grams"), 6)
            .as("novelty"))
        .orderBy(col("doc_id"))
    },

    "q218_dup_pagerank" -> { (s, dir) =>
      // PageRank centrality over the near-duplicate graph — the
      // prototype-selection readout: inside a dup cluster, the
      // highest-rank doc is the one most "representative" of the
      // cluster (connected to the most near-copies), the principled
      // keeper choice when min-doc_id keepers (q86) would keep an
      // outlier. Same q31 edge set (banded LSH candidates + exact
      // Jaccard >= 0.9 verify, never all-pairs); d = 0.85, 5 rounds of
      // q146's FIXED-POINT integer arithmetic (1e6 = 1.0, per-edge
      // floor division, exact integer sums), so the trajectory is
      // bit-reproducible and the oracle unrolls it exactly. Unlike
      // q146's driver-side 128-node graph, the dup graph is
      // corpus-scale, so every round is a DISTRIBUTED edge join +
      // integer sum — the honest iterative-graph shape (q143's star
      // components with arithmetic instead of min). Per-edge terms are
      // <= 1e6 * jaccard-degree; the 850000x product stays far inside
      // a long through the sf10 ladder's 64-capped buckets.
      // the edge build (band join + exact verify) is checkpointed ONCE
      // so the five rounds read a materialized edge table instead of
      // re-deriving the LSH pipeline per round (Components.scala's
      // loop contract; the uncheckpointed form re-ran the edge build
      // 6x and blew past 10 min at the sf10 ladder); each round's
      // ranks checkpoint eagerly too, keeping round cost flat
      val pairs = minhashDupPairs(s, dir).select(col("doc_a"), col("doc_b"))
      val und = pairs.select(col("doc_a").as("s"), col("doc_b").as("d"))
        .union(pairs.select(col("doc_b").as("s"), col("doc_a").as("d")))
        .cp
      val deg = und.groupBy(col("s")).agg(count(lit(1)).as("deg"))
      // r16 tried-and-REVERTED: an eager tracked persist of edges/nodes
      // (MEMORY_AND_DISK + count) so the cache keeps their hash(s)/hash(v)
      // partitioning (a checkpoint's LogicalRDD reports
      // UnknownPartitioning, so each round re-shuffles the edge table
      // into the rank join — guide §2.4). The plan evidence was real
      // (round subplans read InMemoryTableScan with no exchange above
      // it), but the measured COLD number — the driver's surface — was
      // 25% WORSE (interleaved A/B, fresh JVMs, 3 rounds each: persist
      // 8.4-8.9 s vs checkpoint 6.4-7.1 s at sf0.1/local[32]; warm
      // medians a wash, 3.57 vs 3.72): the columnar cache build +
      // eager count + per-round columnar->row decode outweigh five
      // avoided exchanges of a toy-scale edge table. At real scale the
      // co-partitioned form is the bucketed-table pattern and the knob
      // to revisit; the numbers say checkpoint here.
      val edges = und.join(deg, Seq("s")).cp
      val nodes = deg.select(col("s").as("v")).cp
      var ranks = nodes.select(col("v"), lit(1000000L).as("sc"))
      // prevCp tracks the loop-owned checkpoint only: round 0's ranks
      // is a projection over `nodes` (shared by every round), so
      // releasing it would kill nodes' blocks too
      var prevCp: DataFrame = null
      for (_ <- 1 to 5) {
        val contrib = edges
          .join(ranks.select(col("v").as("s"), col("sc")), Seq("s"))
          .select(col("d"), expr("sc DIV deg").as("t"))
          .groupBy(col("d")).agg(sum(col("t")).as("t"))
        ranks = nodes
          .join(contrib.select(col("d").as("v"), col("t")), Seq("v"), "left")
          .select(col("v"), (lit(150000L) +
            expr("850000 * coalesce(t, 0) DIV 1000000")).as("sc"))
          .cp
        // round n is materialized: round n-1's blocks are dead (r16
        // checkpoint lifecycle — see graft.Checkpoints)
        if (prevCp != null) Checkpoints.release(prevCp)
        prevCp = ranks
      }
      // top-20 via TakeOrdered (never a global rank window over the
      // corpus-scale node table); the row_number only ranks 20 rows
      val w = Window.orderBy(col("sc").desc, col("v"))
      ranks.orderBy(col("sc").desc, col("v")).limit(20)
        .withColumn("rank", row_number().over(w).cast("long"))
        .select(col("rank"), col("v").as("doc_id"), col("sc").as("score"))
        .orderBy(col("rank"))
    },

    "q248_hard_negatives" -> { (s, dir) =>
      // Per-anchor HARD-NEGATIVE mining for contrastive training — the
      // pairs an embedding model learns the most from: documents that
      // share a RARE shingle with the anchor (>= 1 common shingle of
      // corpus df <= 64 — the discriminative collision) yet sit far
      // from duplicate (jaccard < 0.5). Random negatives are trivially
      // separable, and pairs sharing only BOILERPLATE shingles are
      // both uninformative as negatives and the quadratic blow-up at
      // scale (df doubles -> candidates quadruple; the first cut of
      // this query paired through all shingles and went 21x on the
      // 10x sf1 ladder) — the df <= 64 contract is the semantic and
      // the scale bound at once: per rare shingle the posting list is
      // COMPLETE (<= 64, lossless for this definition) and the pair
      // fan-out is <= 64^2. One shingle-TYPE shuffle, never all-pairs;
      // exact Jaccard verifies candidates only. Ranking is per anchor
      // (both pair directions anchor), top-3 by similarity via
      // operators/TopK — bounded MinKAgg state, NO per-anchor sort —
      // over the integer surrogate j_micro = floor(j * 1e6) (both
      // engines: correctly-rounded double div + mul, then floor —
      // bit-identical), ties to the lower neg id.
      // shingle sets materialized ONCE (r15 opt): post feeds both the
      // rare-gram grouping and the frequent-gram carry, and sizes is a
      // third consumer — uncheckpointed, each re-ran the tokenize +
      // shingle kernel over the corpus
      val docs = shingled(Tables(s, dir)).filter(size(col("sh")) > 0)
        .cp
      val post = docs.select(col("doc_id"), explode(col("sh")).as("g"))
      val grouped = post.groupBy(col("g"))
        .agg(count(lit(1)).as("df"),
          slice(array_sort(collect_list(struct(col("doc_id")))), 1, 65)
            .as("m"))
      // Exact-Jaccard verify in POSTINGS-COUNT form (VERDICT r14 #2:
      // the first form .distinct()'d the pair explosion, then joined
      // the FULL shingle array onto every pair twice and ran
      // array_intersect/array_union per pair — 14.6 s at sf0.1, the
      // suite's slowest query; this form is 4.4 s sf0.1 / 31 s sf1 vs
      // 59 s). Same numbers, and the candidate dedup and the
      // intersection count FUSE into one groupBy: a rare gram's
      // posting list is COMPLETE (df <= 64), so exploding its pairs
      // yields (da,db) exactly once per shared rare gram, and
      // groupBy(da,db).count IS the shared-RARE-gram count (sh is
      // DISTINCT per doc). The explosion is linear-bounded:
      // sum C(df,2) <= 32 * |postings| under the df cap. Grams ABOVE
      // the cap never create candidacy but DO count toward the
      // oracle's full-array Jaccard: each doc carries its FREQUENT
      // grams only (df > 64 — none at sf0.1 where max df = 25, avg 47
      // of 52 shingles at the replication-densified sf1) as a compact
      // array left-joined per pair and intersected — NOT a postings
      // join keyed (db,g), which multiplies |pairs| by
      // frequent-grams-per-doc (289M rows at sf1, measured 123 s).
      // |A∪B| = |A|+|B|-|A∩B| from two slim size joins; j is the same
      // exact-integer division the oracle computes
      // (len(list_intersect)/len(list_distinct(concat))), so the hash
      // contract is unchanged.
      val pairsRare = grouped
        .filter(col("df") <= 64 && size(col("m")) > 1)
        .select(explode(col("m")).as("a"), col("m"))
        .select(col("a"), explode(filter(col("m"),
          b => b("doc_id") > col("a")("doc_id"))).as("b"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .groupBy(col("da"), col("db")).agg(count(lit(1)).as("inter_rare"))
      val docFreq = post
        .join(grouped.filter(col("df") > 64).select(col("g")), "g")
        .groupBy(col("doc_id")).agg(collect_list(col("g")).as("fg"))
      val sizes = docs.select(col("doc_id"), size(col("sh")).as("n"))
      val verified = pairsRare
        .join(docFreq.select(col("doc_id").as("da"), col("fg").as("fa")),
          Seq("da"), "left")
        .join(docFreq.select(col("doc_id").as("db"), col("fg").as("fb")),
          Seq("db"), "left")
        .withColumn("inter", col("inter_rare") +
          when(col("fa").isNotNull && col("fb").isNotNull,
            size(array_intersect(col("fa"), col("fb"))).cast("long"))
            .otherwise(0L))
        .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
        .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
        .withColumn("j", col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")))
        .filter(col("j") < 0.5)
        .select(col("da"), col("db"),
          floor(col("j") * 1000000).cast("long").as("j_micro"))
      val anchored = verified
        .select(col("da").as("anchor_doc"), col("db").as("neg_doc"),
          col("j_micro"))
        .union(verified.select(col("db").as("anchor_doc"),
          col("da").as("neg_doc"), col("j_micro")))
      graft.operators.TopK
        .topK(anchored, "anchor_doc", "neg_doc", "j_micro", 3)
        .select(col("anchor_doc"), col("rk"), col("neg_doc"), col("j_micro"))
        .orderBy(col("anchor_doc"), col("rk"))
    },

    "q244_triangle_census" -> { (s, dir) =>
      // Triangle census + local clustering coefficient over the
      // near-dup graph — the cluster-DENSITY readout that separates a
      // tight paraphrase clique (clustering ~1: safe to keep one doc)
      // from a hub-and-spoke template family (clustering ~0: the hub
      // shares boilerplate with many docs that are NOT near-dups of
      // each other — collapsing to one keeper would delete distinct
      // content). Edges are q31's verified pairs (banded LSH + exact
      // Jaccard >= 0.9, never all-pairs). Counting uses the
      // degree-ordered orientation (Suri & Vassilvitskii 2011,
      // "counting triangles and the curse of the last reducer"): each
      // undirected edge points from its (deg, id)-smaller endpoint to
      // the larger, so every triangle is counted EXACTLY once as
      // wedge (u->v, u->w) + closing edge (v->w), and per-node wedge
      // fan-out is bounded by sqrt(2m) instead of the max raw degree —
      // the corpus-scale hub that would serialize one reducer in the
      // naive wedge join generates no wedges at all. The edge build is
      // checkpointed once; the wedge join and the closing-edge join
      // are plain equi-joins over it.
      // edge build materialized ONCE: und/ord each consume `pairs`
      // twice (union + the two join probes), and the LSH band join +
      // exact verify re-ran per consumption without this (r15 opt)
      val pairs = minhashDupPairs(s, dir).select(col("doc_a"), col("doc_b"))
        .cp
      val und = pairs.select(col("doc_a").as("s"), col("doc_b").as("d"))
        .union(pairs.select(col("doc_b").as("s"), col("doc_a").as("d")))
      val deg = und.groupBy(col("s")).agg(count(lit(1)).as("deg"))
        .cp
      val ord = und
        .join(deg.select(col("s"), col("deg").as("du")), "s")
        .join(deg.select(col("s").as("d"), col("deg").as("dv")), "d")
        .filter(col("du") < col("dv") ||
          (col("du") === col("dv") && col("s") < col("d")))
        .select(col("s").as("u"), col("d").as("v"), col("dv").as("rv"))
        .cp
      val e1 = ord.select(col("u"), col("v").as("x"), col("rv").as("rx"))
      val e2 = ord.select(col("u"), col("v").as("y"), col("rv").as("ry"))
      val tri = e1.join(e2, Seq("u"))
        .filter(col("rx") < col("ry") ||
          (col("rx") === col("ry") && col("x") < col("y")))
        .join(ord.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
        .select(explode(array(col("u"), col("x"), col("y"))).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tri"))
      deg.select(col("s").as("doc_id"), col("deg").as("degree"))
        .join(tri, Seq("doc_id"), "left")
        .select(col("doc_id"), col("degree"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          when(col("degree") >= 2, round(
            lit(2).cast("double") * coalesce(col("n_tri"), lit(0L)) /
              (col("degree") * (col("degree") - 1)), 6)).as("clustering"))
        .orderBy(col("doc_id"))
    },

    "q221_dedup_threshold_sweep" -> { (s, dir) =>
      // Dedup-threshold sensitivity report — the tuning readout run
      // before committing a Jaccard cutoff: from ONE banded candidate
      // pass (q31's machinery), how do pair volume, touched-doc count
      // and mean similarity move as the threshold tightens through
      // 0.90/0.92/0.95/0.98? Thresholds stay >= 0.9 because that is
      // the recall regime the 0.9-tuned bands are proven equivalent to
      // all-pairs in (q31/q86's bet — the oracle IS all-pairs); a
      // looser sweep would need re-banding. The jaccard is the same
      // exact integer-ratio double on both engines, so threshold
      // comparisons are deterministic. Scale shape: the edge build is
      // computed once and swept against a broadcast 4-row threshold
      // table — bounded explode, three cell-level aggs, no extra
      // corpus pass.
      // "computed once" made literal (r15 opt): base and docs are two
      // independent consumers of the swept pairs, so the uncheckpointed
      // edge build (band join + exact verify) ran twice
      val pairs = minhashDupPairs(s, dir).cp
      val thr = s.range(0, 4).select(
        expr("element_at(array(0.90D, 0.92D, 0.95D, 0.98D), " +
          "CAST(id + 1 AS INT))").as("threshold"))
      val sw = pairs.crossJoin(broadcast(thr))
        .filter(col("jaccard") >= col("threshold"))
      val base = sw.groupBy(col("threshold"))
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(col("jaccard")) / count(lit(1)), 6).as("mean_jaccard"))
      val docs = sw.select(col("threshold"), explode(array(col("doc_a"),
          col("doc_b"))).as("doc_id")).distinct()
        .groupBy(col("threshold")).agg(count(lit(1)).as("n_docs"))
      base.join(docs, Seq("threshold"))
        .select(col("threshold"), col("n_pairs"), col("n_docs"),
          col("mean_jaccard"))
        .orderBy(col("threshold"))
    },

    // --- deduplication -------------------------------------------------
    "q30_exact_dedup" -> { (s, dir) =>
      Tables(s, dir).documents
        .groupBy(md5(col("text").cast("binary")).as("content_hash"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy(col("content_hash"))
    },


    "q31_minhash_lsh_dedup" -> { (s, dir) =>
      minhashDupPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))
    },


    "q82_ngram_jaccard_join" -> { (s, dir) =>
      // Exact n-gram Jaccard similarity join via df-ordered PREFIX
      // FILTERING (the classic set-similarity-join family: sort each
      // set by a global token order, index only each set's first
      // |x| - ceil(t*|x|) + 1 tokens). q31 answers the same question
      // approximately with fixed-size MinHash signatures; this
      // operator is EXACT at threshold t with a lossless candidate
      // filter: J(x,y) >= t implies |intersect| >= ceil(t*|x|), so
      // two qualifying sets must share a token inside those prefixes.
      // 100 TB shape: per-row ordering and prefix extraction (no
      // corpus-wide shuffle before the index), ONE shuffle of the
      // ~20%-of-tokens prefix index by token, a capped self-join on
      // postings, and exact verification on candidates only (never
      // O(n^2)); AQE broadcasts the small candidate side of the
      // verify joins.
      // t = 4/5; the filter thresholds below use ceil(a/b) =
      // floor((a+b-1)/b) on small integers — a correctly-rounded double
      // quotient of ints < 2^49 floors exactly, so no rounding can make
      // a lossless filter lossy.
      // shingle sets materialized ONCE (r15 opt): the prefix index and
      // the two verify probes each re-ran the tokenize + shingle
      // kernel over the corpus (the verify joins broadcast the
      // candidate side, so both probe sides are full corpus scans)
      val docs = shingled(Tables(s, dir)).filter(size(col("sh")) > 0)
        .cp
      // Global token order: (xxhash64(token), token) — computed PER
      // ROW, no df pass, no shuffle, no broadcast. Correctness does
      // not depend on the choice of order (any consistent total order
      // keeps the prefix filter lossless); order only tunes candidate
      // counts. The classic df-ascending order was measured against
      // this on the test corpus and pruned candidates by just ~6%
      // (70.8k vs 75.2k at sf0.1) while costing an extra corpus-wide
      // frequency pass — the 64-representative cap below already
      // bounds per-token fan-out under boilerplate skew, which is the
      // job df-ordering classically does. A corpus whose near-dup
      // signal hides behind globally-frequent shingles can swap in a
      // rank join here without touching any filter math.
      val ordered = docs.select(col("doc_id"), size(col("sh")).as("len"),
        transform(array_sort(transform(col("sh"),
          g => struct(xxhash64(g).as("k2"), g.as("g")))),
          _.getField("g")).as("og"))
      // J(x,y) >= t implies |intersect| >= ceil(t*|x|), so the first
      // |x| - ceil(t*|x|) + 1 tokens of each side must share one.
      val prefixLen =
        (col("len") - floor((col("len") * 4 + 4) / 5) + 1).cast("int")
      val prefix = ordered.select(col("doc_id"), col("len"),
        posexplode(slice(col("og"), lit(1), prefixLen)).as(Seq("p", "g")))
      // Posting lists via the shared capped generator (single shuffle of
      // the prefix index; 64-representative degenerate-corpus guard as in
      // q31 — a corpus of 64+ identical docs would make every posting
      // list the corpus; identical docs share identical prefixes, so kept
      // members still pair; run q30 first to strip exact copies beyond
      // the cap's design point). Two more lossless pre-verification
      // filters on the generated pairs:
      //  - length: J >= 4/5 forces 5*min(|x|,|y|) >= 4*max(|x|,|y|);
      //  - positional: a pair matched at (0-based) prefix positions
      //    (pa, pb) can overlap at most
      //    min(pa, pb) + 1 + min(|x|-pa-1, |y|-pb-1), which must reach
      //    alpha = ceil(t/(1+t)*(|x|+|y|)) = ceil(4*(|x|+|y|)/9).
      val alpha = floor(((col("a.len") + col("b.len")) * 4 + 8) / 9)
      val cand = cappedBucketPairs(prefix, col("g"),
          struct(col("doc_id"), col("len"), col("p")), "doc_id")
        .filter(col("a.len") * 4 <= col("b.len") * 5
          && col("b.len") * 4 <= col("a.len") * 5
          && least(col("a.p"), col("b.p")) + 1 +
               least(col("a.len") - col("a.p") - 1,
                 col("b.len") - col("b.p") - 1) >= alpha)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      // Verification computes the oracle's exact double: sets are
      // distinct, so |union| = |x| + |y| - |intersect| without
      // materializing array_union.
      cand
        .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("jaccard", col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
        .filter(col("jaccard") >= 0.8)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },


    "q224_containment_join" -> { (s, dir) =>
      // Asymmetric near-CONTAINMENT join: (contained, container) pairs
      // with |A∩B| / |A| >= 0.9 — the boilerplate/quotation/subset-
      // document detector that jaccard dedup (q31/q82) structurally
      // misses: 50 shingles pasted inside a 500-shingle doc is
      // jaccard ~0.1 but containment 1.0. Same lossless prefix-filter
      // family as q82, made asymmetric: if C(A->B) >= t, A and B share
      // a shingle inside A's first |A| - ceil(t*|A|) + 1 shingles in
      // any fixed global order (pigeonhole on |A \ B|), while the
      // container's witness can sit ANYWHERE, so the container side
      // indexes all its shingles — the candidate index costs one
      // shingle-TYPE shuffle (q111's inverted-index shape); the
      // contained side posts only its ~10% prefix. Both posting lists
      // ride the 64-lowest-id cap (q31's degenerate-corpus guard; max
      // shingle df at sf0.1 is 25, so the cap is headroom here), pairs
      // pass the lossless container-length test 10*|B| >= 9*|A|
      // (|B| >= |A∩B| >= ceil(t*|A|)), and exact verification joins
      // candidates only — never all-pairs. Contained side needs >= 5
      // shingles (a 1-shingle doc is "contained" everywhere — noise);
      // that also bounds containers losslessly, since a <5-shingle doc
      // cannot hold the needed intersection.
      // materialized ONCE at the call site (NOT inside containmentPairs,
      // which the streaming twin shares and a stream side cannot
      // checkpoint): prefix postings, the container index and the two
      // verify probes otherwise each re-ran tokenize + shingle (r15 opt)
      val docs = shingled(Tables(s, dir)).cp
      containmentPairs(docs, docs)
        .orderBy(col("contained_doc"), col("container_doc"))
    },


    "q32_canonical_fingerprint" -> { (s, dir) =>
      Tables(s, dir).documents.orderBy(col("doc_id"))
        .select(col("doc_id"),
          md5(array_join(array_sort(array_distinct(toks(col("text")))), " ")
            .cast("binary")).as("fingerprint"))
    },


    // --- sketch families (md5-derived so the DuckDB oracle recomputes
    // --- the identical signatures; see SketchKernel.md5Lower64) --------
    "q38_simhash_neardup" -> { (s, dir) =>
      // RECALL CONTRACT (shared by every 4 x 16-bit banding user:
      // q38 here, q223, q243): an exact-match band surfaces a pair
      // only if one band is error-free, which the pigeonhole
      // guarantees ONLY for Hamming distance <= 3. A true pair at
      // d in [4, threshold] whose bit errors touch all four bands is
      // missed — by both engines identically (the oracle replays the
      // banding), adversarially pinned in PipelineSpec's
      // "banded-Hamming RECALL CONTRACT" case. This is the standard
      // LSH trade (q31's equivalence-regime posture): complete recall
      // at the threshold would need 8x8-bit bands (d <= 7) or
      // multi-probe, at 2x/row the band shuffle volume.
      val docs = Tables(s, dir).documents
        .select(col("doc_id"), simhash64(toks(col("text"))).as("sig"))
      val bands = docs.select(col("doc_id"), col("sig"),
        explode(expr(
          """transform(sequence(0, 3), b -> struct(b AS band_id,
            shiftrightunsigned(sig, cast(b * 16 AS int)) & 65535 AS key))""")).as("bd"))
      // Same skew protection as q31: near-dup clusters share all four
      // band keys, so an uncapped bucket pairing is quadratic in cluster
      // size (measured 16.3x at a 10x scale-up with 10-copy clusters —
      // BENCH_sf1.json). The shared capped generator keeps the first 64
      // members per (band, key) bucket; identical sigs keep the same
      // representatives in every band, so intra-cluster pairs survive
      // while fan-out is <= 64^2.
      cappedBucketPairs(bands, col("bd"),
          struct(col("doc_id"), col("sig")), "doc_id")
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          hamming64(col("a.sig"), col("b.sig")).as("hamming"))
        .distinct()
        .filter(col("hamming") <= 6)
        .orderBy(col("doc_a"), col("doc_b"))
    },


    "q39_rolling_fingerprint" -> { (s, dir) =>
      Tables(s, dir).documents.orderBy(col("doc_id"))
        .select(col("doc_id"), rolling_fingerprint(toks(col("text"))).as("fp"))
    },


    "q223_image_dhash_neardup" -> { (s, dir) =>
      // Perceptual-hash IMAGE near-dup — q38's SimHash machinery with
      // the signature replaced by a REAL pixel-level feature: each doc
      // carries a complete deflated grayscale PNG planted from its
      // GROUP id (doc_id DIV 8 — group members share dims and base
      // pixels but differ by a per-doc brightness shift, so decoded
      // images are near- but not byte-identical), png_dhash DECODES it
      // (IDAT inflate + unfilter) and block-averages onto the 9x8
      // dHash grid. Banding/capping/verification are exactly q38's:
      // 4 x 16-bit bands, the shared 64-capped bucket pairer (never
      // all-pairs), exact Hamming verify <= 12 — under q38's recall
      // contract: banding GUARANTEES candidates only at d <= 3; a
      // d in [4,12] pair with errors in all four bands is
      // documented-missed (see the q38 note + the adversarial spec
      // pin). One map-only
      // decode+hash scan (8 bytes/doc shipped), one band shuffle —
      // the image-dedup plan a 100 TB multimodal corpus needs.
      imageDhashPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))
    },


    "q243_jpeg_dhash_neardup" -> { (s, dir) =>
      // q223's perceptual near-dup routed over the format real web
      // corpora are made of: each doc carries a COMPLETE baseline
      // JPEG (real Huffman entropy stream, DC prediction, byte
      // stuffing) planted from its group id — group members share
      // dims and the flat-block pixel field, differ by a per-doc
      // brightness shift — and image_dhash must run the full decode
      // (DHT build + Huffman + dequant + IDCT, luma only) before the
      // 9x8 dHash grid. Banding/capping/verification identical to
      // q223: 4 x 16-bit bands, shared 64-capped pairer, exact
      // Hamming verify. Recall contract: the 4x16 banding pigeonhole-
      // guarantees a clean band only for d <= 3; pairs at d in [4,12]
      // surface only when one band dodges every flipped bit (both
      // engines replay the same banding, so the contract is shared —
      // see the q38 note). Scale shape unchanged: map-only
      // decode+hash (8 bytes/doc shipped), one band shuffle.
      jpegDhashPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))
    },


    "q229_image_dup_clusters" -> { (s, dir) =>
      // The pairs -> clusters -> keeper step for the IMAGE family —
      // what q86/q143 do for text near-dups, completing the image
      // dedup arc (decode q222, candidate+verify q223/q243, resolution
      // here): alternating-star connected components over the dHash
      // near-dup edge set, each image labeled with its component's
      // minimum doc_id (the canonical keeper) plus the cluster size a
      // keep-one-per-cluster rewrite needs. Scale shape inherited
      // wholesale: the edge set is the near-dup graph only (never
      // payloads), star contracts in O(log^2 n) shuffle-bounded
      // rounds, driver loop is control-only.
      val edges = imageDhashPairs(s, dir)
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
      graft.operators.Components.components(edges)
        .select(col("node").as("doc_id"), col("component").as("cluster_id"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
        .select(col("doc_id"), col("cluster_id"),
          (col("doc_id") === col("cluster_id")).as("is_keeper"),
          col("cluster_size"))
        .orderBy(col("doc_id"))
    },


    "q86_dup_clusters" -> { (s, dir) =>
      // The pairs -> clusters -> keeper step every dedup pipeline needs:
      // connected components over the verified near-dup pairs (q31's
      // edge set), each doc labeled with its component's minimum doc_id
      // (the canonical keeper). Iterative min-label propagation — each
      // round is one shuffle join on the (tiny relative to the corpus)
      // dup graph, labels converge in O(diameter) rounds, and near-dup
      // components are cliquish (diameter ~2-3; identical docs are full
      // cliques). The driver-side loop is iteration CONTROL, not data
      // (GraphX/Pregel does the same); localCheckpoint truncates the
      // per-round lineage so the plan doesn't grow exponentially. At
      // 100 TB the edge set is the near-dup graph only — propagation
      // shuffles (doc_id, label) pairs, never documents.
      val edges = minhashDupPairs(s, dir).select(col("doc_a"), col("doc_b"))
        .cp
      val und = edges.union(
        edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      var labels = und.select(col("doc_a").as("doc_id")).distinct()
        .withColumn("label", col("doc_id")).cp
      var converged = false
      var iter = 0
      while (!converged && iter < 20) {
        val nbrMin = und
          .join(labels.withColumnRenamed("doc_id", "doc_a"), "doc_a")
          .groupBy(col("doc_b").as("doc_id")).agg(min(col("label")).as("nbr"))
        val next = labels.withColumnRenamed("label", "old")
          .join(nbrMin, Seq("doc_id"), "left")
          .select(col("doc_id"), col("old"),
            least(col("old"), coalesce(col("nbr"), col("old"))).as("label"))
          .cp
        converged = next.filter(col("label") =!= col("old")).isEmpty
        // round n is materialized and the convergence check consumed
        // round n-1 (`labels` is the seed cp or a projection of the
        // previous round's cp — nothing shared): release its blocks
        // (r16 checkpoint lifecycle — see graft.Checkpoints)
        Checkpoints.release(labels)
        labels = next.select(col("doc_id"), col("label"))
        iter += 1
      }
      require(converged, s"q86 label propagation did not converge in $iter rounds")
      labels
        .select(col("doc_id"), col("label").as("cluster_id"),
          (col("doc_id") === col("label")).as("is_keeper"))
        .orderBy(col("doc_id"))
    },


    "q143_components_star" -> { (s, dir) =>
      // q86's contract (near-dup pairs -> components -> canonical
      // keeper) computed by ALTERNATING LARGE-STAR/SMALL-STAR
      // (Kiveris et al. 2014) instead of min-label propagation. Same
      // edge set, same output, different convergence guarantee:
      // label prop needs O(diameter) rounds (and q86 caps at 20 — a
      // 40-link chain component would fail it), star contracts any
      // component in O(log^2 n) rounds regardless of shape. Components
      // emerge rooted at their minimum doc_id, so the keeper falls out
      // of the star root with no extra pass. PipelineSpec pins exact
      // agreement with q86 on the fixture AND convergence on a planted
      // 64-link chain that label prop's cap cannot absorb.
      val edges = minhashDupPairs(s, dir)
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
      graft.operators.Components.components(edges)
        .select(col("node").as("doc_id"), col("component").as("cluster_id"),
          (col("node") === col("component")).as("is_keeper"))
        .orderBy(col("doc_id"))
    },


    "q108_incremental_dedup" -> { (s, dir) =>
      // Incremental ingest dedup: the new batch (doc_id % 10 == 0 as
      // the arriving split) probes the existing corpus's band index —
      // see incrementalDedup. The oracle is the brute-force
      // new x existing exact-Jaccard join, so this also re-certifies
      // LSH completeness at J >= 0.9 on the probe shape.
      val docs = shingled(Tables(s, dir))
      incrementalDedup(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0))
        .orderBy(col("new_doc"))
    },


    "q102_dup_source_matrix" -> { (s, dir) =>
      // Corpus forensics: the near-dup pair graph projected onto
      // SOURCES — how many verified near-dup pairs live inside each
      // source and span each source pair (which feeds copy from each
      // other, which scraper double-ingests). Reuses q31's verified
      // edge set; the (doc -> source) joins broadcast the tiny
      // projection, the matrix group-by is at |sources|^2 cardinality.
      // The unordered source pair is canonicalized (least, greatest)
      // so A->B and B->A collapse into one cell.
      val pairs = minhashDupPairs(s, dir)
      val src = Tables(s, dir).documents.select(col("doc_id"), col("source"))
      pairs
        .join(broadcast(src.select(col("doc_id").as("doc_a"),
          col("source").as("src_a"))), Seq("doc_a"))
        .join(broadcast(src.select(col("doc_id").as("doc_b"),
          col("source").as("src_b"))), Seq("doc_b"))
        .groupBy(least(col("src_a"), col("src_b")).as("source_a"),
          greatest(col("src_a"), col("src_b")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(col("jaccard")), 6).as("avg_jaccard"))
        .withColumn("cross_source", col("source_a") =!= col("source_b"))
        .orderBy(col("source_a"), col("source_b"))
    },


    "q100_winnow_overlap" -> { (s, dir) =>
      // q94's cross-doc span detection at index scale: winnowing
      // (Schleimer et al. 2003) selects each w-window's minimal k-gram
      // hash, a deterministic ~2/(w+1) subsample that still guarantees
      // any shared run of >= w+k-1 tokens contributes a common
      // fingerprint — the index shuffles a fraction of the grams for
      // the same detection guarantee. Same plan shape as q94: per-gram
      // doc counts via one window over the fingerprint shuffle, then
      // the per-doc rollup; never a pair join.
      val fp = Tables(s, dir).documents
        .select(col("doc_id"),
          explode(winnow_fingerprints(toks(col("text")), 4, 4)).as("fp"))
        .withColumn("n_docs", count(lit(1)).over(Window.partitionBy(col("fp"))))
      fp.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fp"),
          sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_shared_fp"))
        .select(col("doc_id"), col("n_fp"), col("n_shared_fp"),
          (col("n_shared_fp").cast("double") / col("n_fp")).as("shared_frac"))
        .orderBy(col("doc_id"))
    },


    "q252_exact_substring" -> { (s, dir) =>
      // EXACT-substring dedup at the Lee et al. 2022 50-token
      // threshold (the standard the Dolma/C4 pipelines cite; VERDICT
      // r14 Next #8 — the one public dedup family member that was
      // missing): every occurrence of a >= 50-token repeated substring
      // EXCEPT the canonical first copy (global (doc_id, pos) order
      // per window) is marked for removal, same-doc self-repeats
      // included, and overlapping marked windows merge into exact
      // SPANS with token extents — q94's 8-gram shared_frac flags that
      // sharing exists; this reports precisely which tokens to cut and
      // how many survive. Coverage argument: every token of a repeated
      // span of length L >= 50 lies inside one of its L-49 aligned
      // 50-token windows, each of which recurs verbatim at the other
      // occurrence, so the marked-window union tiles the span exactly
      // (the gaps-and-islands merge below reconstructs it: windows
      // sorted by pos, break when the gap exceeds the window length).
      // Windows key on md5 of the space-joined tokens (tokens carry no
      // whitespace, so the join is injective; md5 is bit-identical in
      // both engines and keeps the shuffle key 32 bytes instead of a
      // ~300-byte token run). Plan shape: one window stream (~1 row
      // per token position), ONE gram-keyed shuffle for the canonical
      // rank, ONE doc-keyed window pass for the island merge — never a
      // pair join, q94's scale posture with exact extents.
      exactSubstringSpans(Tables(s, dir).documents, 50)
    },

    "q94_span_dedup" -> { (s, dir) =>
      // Cross-document repeated-span detection (the scalable form of
      // exact-substring dedup, Lee et al. 2022): count, per doc, how
      // many of its distinct 8-token windows also occur in another
      // document. Unlike q31/q82 (whole-doc similarity) this finds
      // shared SPANS between otherwise-unrelated docs (boilerplate,
      // license headers, quoted passages). Plan shape: per-gram doc
      // counts via a window over ONE gram shuffle (no groupBy+join-back
      // second shuffle), then the per-doc rollup — never a pair join,
      // which is what keeps exact span dedup tractable at corpus scale.
      val sh8 = Tables(s, dir).documents
        .select(col("doc_id"), explode(shingles(toks(col("text")), 8)).as("g"))
        .withColumn("n_docs", count(lit(1)).over(Window.partitionBy(col("g"))))
      sh8.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_shared"))
        .select(col("doc_id"), col("n_windows"), col("n_shared"),
          (col("n_shared").cast("double") / col("n_windows")).as("shared_frac"))
        .orderBy(col("doc_id"))
    },


    "q204_capture_recapture" -> { (s, dir) =>
      // Capture-recapture (Lincoln-Petersen) corpus-universe estimate —
      // "how many DISTINCT documents would full dedup leave" from two
      // small independent hash samples instead of a full exact count:
      // draw sample A (md5 "cap_a:" of the content fingerprint, low 3
      // bits = 0 -> ~1/8) and sample B (independent "cap_b:" salt),
      // count distinct fingerprints in each and in the overlap, then
      // N_hat = |A|*|B|/|A∩B| (Chapman's +1 bias correction, exact
      // integers until the one division). The exact distinct count
      // rides alongside as the audit (q121's sketch-vs-exact posture).
      // Scale shape: two map-side sample filters + distinct aggs over
      // ~1/8 of fingerprints each; the full-corpus exact audit is the
      // expensive column, the estimator never touches unsampled rows.
      val d = Tables(s, dir).documents
        .select(md5(col("text").cast("binary")).as("fp"))
      val inA = md5_lower64(concat(lit("cap_a:"), col("fp"))
        .cast("binary")).bitwiseAND(lit(7L)) === 0L
      val inB = md5_lower64(concat(lit("cap_b:"), col("fp"))
        .cast("binary")).bitwiseAND(lit(7L)) === 0L
      d.agg(countDistinct(col("fp")).as("exact_distinct"),
          countDistinct(when(inA, col("fp"))).as("n_a"),
          countDistinct(when(inB, col("fp"))).as("n_b"),
          countDistinct(when(inA && inB, col("fp"))).as("n_ab"))
        .select(col("exact_distinct"), col("n_a"), col("n_b"), col("n_ab"),
          round((col("n_a") + 1).cast("double") * (col("n_b") + 1) /
            (col("n_ab") + 1) - 1.0, 6).as("n_hat"))
    },


    "q117_block_dedup" -> { (s, dir) =>
      // The REWRITE stage of exact dedup (Dolma/C4 paragraph dedup):
      // q94 reports shared spans, this one removes them and emits the
      // cleaned corpus. Docs segment into fixed 16-token blocks (the
      // fixture has no paragraph breaks; on real data the segmenter
      // splits on blank lines first) and a block survives only at its
      // FIRST corpus occurrence — global keep-first by (doc_id, idx)
      // via one row_number window over the block key. Reassembly is the
      // per-doc rollup: surviving blocks re-join in index order. Two
      // shuffles total at any scale (block key, then doc_id), never a
      // pair join; the window state per block key is one counter. At
      // 100 TB the block column would hash to a 16-byte digest before
      // the shuffle to cut exchange volume — semantics identical.
      val d = docBlocks(Tables(s, dir).documents)
      val w = Window.partitionBy(col("blk")).orderBy(col("doc_id"), col("idx"))
      d.withColumn("rn", row_number().over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dropped"),
          array_join(transform(array_sort(collect_list(
            when(col("rn") === 1, struct(col("idx"), col("blk"))))),
            _.getField("blk")), " ").as("clean_text"))
        .orderBy(col("doc_id"))
    },
  )

  /** The q224 contained-side posting set: each doc posts (doc_id, len,
    * g) for the shingles in its ordered PREFIX only — shingles sorted
    * by the fixed global xxhash64 order, first
    * |A| - ceil(0.9*|A|) + 1 of them. C(A->B) >= 9/10 implies
    * |A \ B| <= |A| - ceil(9|A|/10), so by pigeonhole one of those
    * prefix shingles must be in B — the lossless witness set the
    * containment join (batch q224 and its streaming twin,
    * [[graft.streaming.DedupStreams.containmentProbe]]) probes with.
    * Docs with < 5 shingles are dropped on BOTH sides (a 1-shingle
    * doc is "contained" everywhere — noise; and a <5-shingle doc
    * cannot hold a >= ceil(0.9*|A|) intersection for any admitted A,
    * so dropping it as a container is lossless too). */
  private[graft] def containmentPrefixPostings(docs: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    val ordered = docs.filter(size(col("sh")) >= 5)
      .select(Seq(col("doc_id"), size(col("sh")).as("len"),
        transform(array_sort(transform(col("sh"),
          g => struct(xxhash64(g).as("k2"), g.as("g")))),
          _.getField("g")).as("og")) ++ keep.map(col): _*)
    val prefixLen =
      (col("len") - floor((col("len") * 9 + 9) / 10) + 1).cast("int")
    ordered.select(Seq(col("doc_id"), col("len"),
      explode(slice(col("og"), lit(1), prefixLen)).as("g")) ++
        keep.map(col): _*)
  }

  /** The q224 container-side inverted index: g -> up to 64 lowest-id
    * (doc_id, len) postings over ALL the container's shingles (the
    * witness can sit anywhere in B). One shingle-TYPE shuffle; the
    * 64 cap is q31's degenerate-corpus guard (max shingle df at
    * sf0.1 is 25, so it is headroom here). */
  private[graft] def containmentIndex(containers: DataFrame): DataFrame =
    containers.filter(size(col("sh")) >= 5)
      .select(col("doc_id"), size(col("sh")).as("len"),
        explode(col("sh")).as("g"))
      .groupBy(col("g"))
      .agg(slice(array_sort(collect_list(struct(col("doc_id"), col("len")))),
        1, 64).as("mb"))

  /** q224's verified asymmetric near-containment pairs: (contained,
    * container, containment) with |A∩B| / |A| >= 0.9, contained drawn
    * from `contained`, containers from `containers` (q224 passes the
    * same corpus for both; the streaming parity spec passes the
    * stream/static split). Prefix postings (capped like the index —
    * binds only past shingle-df 64) join the container index, pairs
    * pass the lossless length test 10*|B| >= 9*|A| (since
    * |B| >= |A∩B| >= ceil(0.9*|A|)), and exact verification joins
    * candidates only — never all-pairs. */
  private[graft] def containmentPairs(contained: DataFrame,
      containers: DataFrame): DataFrame = {
    val pre = containmentPrefixPostings(contained)
    val capA = pre.groupBy(col("g"))
      .agg(slice(array_sort(collect_list(struct(col("doc_id"), col("len")))),
        1, 64).as("ma"))
    val cand = capA.join(containmentIndex(containers), "g")
      .select(explode(col("ma")).as("a"), col("mb"))
      .select(col("a"), explode(col("mb")).as("b"))
      .filter(col("a.doc_id") =!= col("b.doc_id") &&
        col("b.len") * 10 >= col("a.len") * 9)
      .select(col("a.doc_id").as("contained_doc"),
        col("b.doc_id").as("container_doc"))
      .distinct()
    cand
      .join(contained.select(col("doc_id").as("contained_doc"),
        col("sh").as("sh_a")), "contained_doc")
      .join(containers.select(col("doc_id").as("container_doc"),
        col("sh").as("sh_b")), "container_doc")
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_a")))
      .filter(col("containment") >= 0.9)
      .select(col("contained_doc"), col("container_doc"), col("containment"))
  }

  /** q223's verified image near-dup pairs (doc_a < doc_b, Hamming <=
    * 12 over decoded dHashes), also the edge set for q229's cluster
    * resolution — the image twin of [[Pipeline.minhashDupPairs]]. */
  private def imageDhashPairs(s: SparkSession, dir: String): DataFrame = {
    val imgs = Tables(s, dir).documents
      .select(col("doc_id"), expr("doc_id DIV 8").as("gid"))
      .select(col("doc_id"), png_dhash(png_encode_gray(
        (col("gid") % 16 + 16).cast("long"),
        (col("gid") % 8 + 8).cast("long"),
        col("gid"), (col("doc_id") % 8) * 3)).as("sig"))
    val bands = imgs.select(col("doc_id"), col("sig"),
      explode(expr(
        """transform(sequence(0, 3), b -> struct(b AS band_id,
          shiftrightunsigned(sig, cast(b * 16 AS int)) & 65535 AS key))""")).as("bd"))
    cappedBucketPairs(bands, col("bd"),
        struct(col("doc_id"), col("sig")), "doc_id")
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming64(col("a.sig"), col("b.sig")).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 12)
  }

  /** q243's verified JPEG near-dup pairs — [[imageDhashPairs]] with
    * the payload swapped to a planted baseline JPEG (decoded via the
    * format-dispatching image_dhash); banding identical. Dims are
    * block-aligned and wider (72-96 x 24-48) so the flat-block field
    * still populates all nine dHash grid columns. */
  private def jpegDhashPairs(s: SparkSession, dir: String): DataFrame = {
    val imgs = Tables(s, dir).documents
      .select(col("doc_id"), expr("doc_id DIV 8").as("gid"))
      .select(col("doc_id"), image_dhash(jpeg_encode_gray_flat(
        ((col("gid") % 4 + 9) * 8).cast("long"),
        ((col("gid") % 4 + 3) * 8).cast("long"),
        col("gid"), (col("doc_id") % 8) * 3)).as("sig"))
    val bands = imgs.select(col("doc_id"), col("sig"),
      explode(expr(
        """transform(sequence(0, 3), b -> struct(b AS band_id,
          shiftrightunsigned(sig, cast(b * 16 AS int)) & 65535 AS key))""")).as("bd"))
    cappedBucketPairs(bands, col("bd"),
        struct(col("doc_id"), col("sig")), "doc_id")
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming64(col("a.sig"), col("b.sig")).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 12)
  }

  /** The banding/capping/pairing tail of the dHash oracle CTEs —
    * shared by the PNG (q223/q229) and JPEG (q243) edge constructions,
    * which differ only in how the per-pixel `v(doc_id, cx, cy, lum)`
    * CTE derives its luminance. Ends in `ipairs`. */
  private val dhashBandCtes =
    """cell AS (SELECT doc_id, cy, cx, sum(lum) // count(*) AS m
                   FROM v GROUP BY doc_id, cy, cx),
          bit AS (SELECT l.doc_id, l.cy * 8 + l.cx AS b
                  FROM cell l JOIN cell r ON l.doc_id = r.doc_id
                    AND l.cy = r.cy AND r.cx = l.cx + 1
                  WHERE l.m < r.m),
          sig AS (SELECT dm.doc_id, CAST(COALESCE(sum(CASE WHEN b = 63
                   THEN -9223372036854775807 - 1
                   ELSE 1::BIGINT << CAST(b AS INT) END), 0) AS BIGINT) AS sig
                  FROM dm LEFT JOIN bit ON bit.doc_id = dm.doc_id
                  GROUP BY dm.doc_id),
          bk AS (SELECT doc_id, b // 16 AS band_id,
                  CAST(sum(1::BIGINT << CAST(b % 16 AS INT)) AS BIGINT) AS key
                 FROM bit GROUP BY doc_id, b // 16),
          ab AS (SELECT s.doc_id, s.sig, t.b AS band_id
                 FROM sig s CROSS JOIN range(0, 4) t(b)),
          bands AS (SELECT ab.doc_id, ab.sig, ab.band_id,
                     COALESCE(bk.key, 0) AS key
                    FROM ab LEFT JOIN bk ON bk.doc_id = ab.doc_id
                      AND bk.band_id = ab.band_id),
          capped AS (SELECT * FROM (SELECT bands.*,
                       row_number() OVER (PARTITION BY band_id, key
                         ORDER BY doc_id) AS rk
                     FROM bands) WHERE rk <= 64),
          ipairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.sig AS sig_a, b.sig AS sig_b
                    FROM capped a JOIN capped b
                      ON a.band_id = b.band_id AND a.key = b.key
                        AND a.doc_id < b.doc_id)"""

  /** The q223/q229 PNG edge construction: per-PIXEL planted luminance
    * ((seed + i) * 2654435761 mod 256) + brightness, then the shared
    * banding tail. */
  private val imageDhashEdgeCtes =
    s"""dm AS (SELECT doc_id, (doc_id // 8) % 16 + 16 AS w,
               (doc_id // 8) % 8 + 8 AS h, doc_id // 8 AS seed,
               (doc_id % 8) * 3 AS bright FROM documents),
          px AS (SELECT doc_id, w, h, seed, bright,
                  unnest(range(0, w * h)) AS i FROM dm),
          v AS (SELECT doc_id, ((i % w) * 9) // w AS cx,
                 ((i // w) * 8) // h AS cy,
                 (((seed + i) * 2654435761) % 256 + bright) % 256 AS lum
                FROM px),
          $dhashBandCtes"""

  /** The q243 JPEG edge construction: per-BLOCK planted luminance
    * (block (x//8, y//8) of the w//8-wide grid — what the all-ones
    * quant table round-trips exactly through the lossy codec), same
    * shared banding tail. */
  private val jpegDhashEdgeCtes =
    s"""dm AS (SELECT doc_id, ((doc_id // 8) % 4 + 9) * 8 AS w,
               ((doc_id // 8) % 4 + 3) * 8 AS h, doc_id // 8 AS seed,
               (doc_id % 8) * 3 AS bright FROM documents),
          px AS (SELECT doc_id, w, h, seed, bright,
                  unnest(range(0, w * h)) AS i FROM dm),
          bx AS (SELECT doc_id, w, h, bright, i,
                 (seed + ((i // w) // 8) * (w // 8) + (i % w) // 8)
                   % 32768 AS x FROM px),
          v AS (SELECT doc_id, ((i % w) * 9) // w AS cx,
                 ((i // w) * 8) // h AS cy,
                 ((((x * x + x) * 2654435761) // 65536) % 256
                   + bright) % 256 AS lum
                FROM bx),
          $dhashBandCtes"""

  /** q252's engine, window length parameterized for the planted specs:
    * docs(doc_id, text) -> (doc_id, n_tokens, n_spans, removed_tokens,
    * kept_tokens) for every doc with >= w tokens. See the q252 entry
    * for the semantics and scale notes. */
  private[graft] def exactSubstringSpans(docs: DataFrame, w: Int): DataFrame = {
    val base = docs
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"), size(col("t")).as("n_tokens"), col("t"))
      .filter(col("n_tokens") >= w)
    val wins = base.select(col("doc_id"),
      explode(expr(
        s"""transform(sequence(1, n_tokens - ${w - 1}), i -> struct(i AS pos,
           md5(cast(concat_ws(' ', slice(t, i, $w)) AS binary)) AS g))"""))
        .as("win"))
      .select(col("doc_id"), col("win.pos").as("pos"), col("win.g").as("g"))
    val marked = wins
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("doc_id"), col("pos"))))
      .filter(col("rk") > 1)
      .select(col("doc_id"), col("pos"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val islands = marked
      .withColumn("lg", lag(col("pos"), 1).over(wDoc))
      .withColumn("brk",
        when(col("lg").isNull || col("pos") - col("lg") > w, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val spans = islands.groupBy(col("doc_id"), col("island"))
      .agg((max(col("pos")) - min(col("pos")) + lit(w.toLong)).as("span_tokens"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("span_tokens")).as("removed_tokens"))
    base.select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"),
        (col("n_tokens") - coalesce(col("removed_tokens"), lit(0L)))
          .as("kept_tokens"))
      .orderBy(col("doc_id"))
  }

  def oracle: Map[String, String] = Map(

    "q218_dup_pagerank" -> dupPagerankOracleSql(5),

    // independent oracle: the rare-shingle (df <= 64) candidate test
    // re-derived from scratch via an uncapped group-by — the engine's
    // posting lists are COMPLETE below the df bound, so the two
    // constructions are equal by definition, not by headroom
    "q248_hard_negatives" ->
      s"""WITH t AS (SELECT doc_id, $shSql AS sh
                     FROM (SELECT doc_id, $tokSql AS lst FROM documents)
                     WHERE len(lst) >= 3),
          ex AS (SELECT doc_id, unnest(sh) AS g FROM t),
          rare AS (SELECT g FROM ex GROUP BY g HAVING count(*) <= 64),
          cd AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                 FROM ex a JOIN rare USING (g) JOIN ex b USING (g)
                 WHERE a.doc_id < b.doc_id),
          p AS (SELECT da, db,
                 CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.sh, b.sh))) AS j
                FROM cd JOIN t a ON a.doc_id = da
                JOIN t b ON b.doc_id = db),
          hn AS (SELECT da AS anchor_doc, db AS neg_doc,
                  CAST(floor(j * 1000000) AS BIGINT) AS j_micro
                 FROM p WHERE j < 0.5
                 UNION ALL
                 SELECT db, da, CAST(floor(j * 1000000) AS BIGINT)
                 FROM p WHERE j < 0.5),
          r AS (SELECT anchor_doc, neg_doc, j_micro,
                 row_number() OVER (PARTITION BY anchor_doc
                   ORDER BY j_micro DESC, neg_doc) AS rk
                FROM hn)
          SELECT anchor_doc, CAST(rk AS BIGINT) AS rk, neg_doc, j_micro
          FROM r WHERE rk <= 3 ORDER BY anchor_doc, rk""",

    "q244_triangle_census" ->
      s"""WITH t AS (SELECT doc_id, $shSql AS sh
              FROM (SELECT doc_id, $tokSql AS lst FROM documents)
              WHERE len(lst) >= 3),
          pairs AS (SELECT a.doc_id AS s, b.doc_id AS d
                    FROM t a JOIN t b ON a.doc_id < b.doc_id
                    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                        / len(list_distinct(list_concat(a.sh, b.sh)))
                        >= 0.9),
          und AS (SELECT s, d FROM pairs UNION ALL SELECT d, s FROM pairs),
          deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM und
                  GROUP BY s),
          tri AS (SELECT p1.s AS a, p1.d AS b, p2.d AS c
                  FROM pairs p1
                  JOIN pairs p2 ON p2.s = p1.s AND p2.d > p1.d
                  JOIN pairs p3 ON p3.s = p1.d AND p3.d = p2.d),
          cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri
                  FROM (SELECT unnest([a, b, c]) AS doc_id FROM tri)
                  GROUP BY doc_id)
          SELECT deg.s AS doc_id, deg.deg AS degree,
            coalesce(cnt.n_tri, 0) AS n_tri,
            CASE WHEN deg.deg >= 2 THEN round(
              CAST(2 AS DOUBLE) * coalesce(cnt.n_tri, 0)
                / (deg.deg * (deg.deg - 1)), 6) END AS clustering
          FROM deg LEFT JOIN cnt ON cnt.doc_id = deg.s
          ORDER BY doc_id""",

    "q221_dedup_threshold_sweep" ->
      s"""WITH t AS (SELECT doc_id, $shSql AS sh
              FROM (SELECT doc_id, $tokSql AS lst FROM documents)
              WHERE len(lst) >= 3),
          p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
                FROM t a JOIN t b ON a.doc_id < b.doc_id),
          thr AS (SELECT CAST(unnest([0.90, 0.92, 0.95, 0.98]) AS DOUBLE)
                   AS threshold),
          sw AS (SELECT threshold, doc_a, doc_b, jaccard
                 FROM p, thr WHERE jaccard >= threshold),
          b AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs,
                 round(sum(jaccard) / count(*), 6) AS mean_jaccard
                FROM sw GROUP BY threshold),
          d AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_docs
                FROM (SELECT DISTINCT threshold, doc_id
                      FROM (SELECT threshold, unnest([doc_a, doc_b])
                              AS doc_id FROM sw))
                GROUP BY threshold)
          SELECT threshold, n_pairs, n_docs, mean_jaccard
          FROM b JOIN d USING (threshold) ORDER BY threshold""",

    "q212_ngram_novelty" ->
      s"""WITH t AS (SELECT doc_id, $shSql AS sh
              FROM (SELECT doc_id, $tokSql AS lst FROM documents)),
          ex AS (SELECT doc_id, unnest(sh) AS gram FROM t),
          fd AS (SELECT gram, min(doc_id) AS first_doc FROM ex GROUP BY gram)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
            CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel,
            round(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
              AS DOUBLE) / count(*), 6) AS novelty
          FROM ex JOIN fd USING (gram) GROUP BY doc_id ORDER BY doc_id""",

    "q204_capture_recapture" ->
      """WITH f AS (SELECT md5(text) AS fp FROM documents),
          g AS (SELECT CAST(count(DISTINCT fp) AS BIGINT) AS exact_distinct,
                 CAST(count(DISTINCT CASE WHEN
                   (md5_number_lower('cap_a:' || fp) & 7) = 0 THEN fp END)
                   AS BIGINT) AS n_a,
                 CAST(count(DISTINCT CASE WHEN
                   (md5_number_lower('cap_b:' || fp) & 7) = 0 THEN fp END)
                   AS BIGINT) AS n_b,
                 CAST(count(DISTINCT CASE WHEN
                   (md5_number_lower('cap_a:' || fp) & 7) = 0 AND
                   (md5_number_lower('cap_b:' || fp) & 7) = 0 THEN fp END)
                   AS BIGINT) AS n_ab
                FROM f)
          SELECT exact_distinct, n_a, n_b, n_ab,
                 round(CAST(n_a + 1 AS DOUBLE) * (n_b + 1) / (n_ab + 1) - 1.0, 6)
                   AS n_hat
          FROM g""",

    "q30_exact_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper, count(*) AS n_copies
         FROM documents GROUP BY md5(text) ORDER BY content_hash""",

    "q31_minhash_lsh_dedup" ->
      s"""WITH t AS (SELECT doc_id, $shSql AS sh
                     FROM (SELECT doc_id, $tokSql AS lst FROM documents) WHERE len(lst) >= 3)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
          FROM t a JOIN t b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.9
          ORDER BY doc_a, doc_b""",

    "q82_ngram_jaccard_join" ->
      s"""WITH t AS (SELECT doc_id, $shSql AS sh
                     FROM (SELECT doc_id, $tokSql AS lst FROM documents) WHERE len(lst) >= 3)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
          FROM t a JOIN t b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
          ORDER BY doc_a, doc_b""",


    // all-pairs exact containment in SQL: the prefix filter and the
    // container-length test are proven lossless (scaladoc), and the
    // 64-cap has 2.5x headroom over the fixture's max shingle df — the
    // q82 posture, so the oracle is fully independent of the
    // candidate machinery
    "q224_containment_join" ->
      s"""WITH t AS (SELECT doc_id, $shSql AS sh
                     FROM (SELECT doc_id, $tokSql AS lst FROM documents) WHERE len(lst) >= 3),
          d AS (SELECT doc_id, sh FROM t WHERE len(sh) >= 5)
          SELECT a.doc_id AS contained_doc, b.doc_id AS container_doc,
            CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh)
              AS containment
          FROM d a JOIN d b ON a.doc_id <> b.doc_id
          WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) >= 0.9
          ORDER BY contained_doc, container_doc""",

    "q86_dup_clusters" -> dupComponentsSql,

    // q143 computes the identical contract by alternating star — one
    // oracle serves both engines' algorithms.
    "q143_components_star" -> dupComponentsSql,

    "q108_incremental_dedup" ->
      s"""WITH t AS (SELECT doc_id, $shSql AS sh
                     FROM (SELECT doc_id, $tokSql AS lst FROM documents) WHERE len(lst) >= 3),
          v AS (SELECT a.doc_id AS new_doc, b.doc_id AS idx_doc,
                  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
                FROM t a JOIN t b ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
                WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.9),
          r AS (SELECT new_doc, idx_doc, jaccard,
                  row_number() OVER (PARTITION BY new_doc
                    ORDER BY jaccard DESC, idx_doc DESC) AS rn,
                  count(*) OVER (PARTITION BY new_doc) AS n_dups
                FROM v)
          SELECT n.doc_id AS new_doc,
            CAST(coalesce(r.n_dups, 0) AS BIGINT) AS n_dups,
            r.idx_doc AS best_match, r.jaccard AS best_jaccard,
            (r.new_doc IS NULL) AS admit
          FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) n
          LEFT JOIN (SELECT * FROM r WHERE rn = 1) r ON n.doc_id = r.new_doc
          ORDER BY new_doc""",

    "q102_dup_source_matrix" ->
      s"""WITH t AS (SELECT doc_id, $shSql AS sh
                     FROM (SELECT doc_id, $tokSql AS lst FROM documents) WHERE len(lst) >= 3),
          p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
                FROM t a JOIN t b ON a.doc_id < b.doc_id
                WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.9),
          j AS (SELECT least(da.source, db.source) AS source_a,
                  greatest(da.source, db.source) AS source_b, jaccard
                FROM p JOIN documents da ON p.doc_a = da.doc_id
                       JOIN documents db ON p.doc_b = db.doc_id)
          SELECT source_a, source_b, count(*) AS n_pairs,
            round(avg(jaccard), 6) AS avg_jaccard,
            source_a <> source_b AS cross_source
          FROM j GROUP BY source_a, source_b ORDER BY source_a, source_b""",

    // The oracle replays winnowing itself: k-gram UBIGINT hashes, then
    // each window's leftmost list_min via list_position.
    "q100_winnow_overlap" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS lst FROM documents),
          h AS (SELECT doc_id,
                  [md5_number_lower(lst[i] || ' ' || lst[i+1] || ' ' || lst[i+2] || ' ' || lst[i+3])
                   for i in range(1, len(lst) - 2)] AS hs
                FROM t WHERE len(lst) >= 7),
          sel AS (SELECT doc_id, list_distinct(
                    [hs[j + list_position(hs[j:j+3], list_min(hs[j:j+3])) - 1]
                     for j in range(1, len(hs) - 2)]) AS fps FROM h),
          g AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
          c AS (SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_docs FROM g)
          SELECT doc_id, count(*) AS n_fp,
            CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_fp,
            CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*) AS shared_frac
          FROM c GROUP BY doc_id ORDER BY doc_id""",

    // Exact-substring dedup rebuilt from scratch: the same 50-token
    // window stream (md5 of the space-joined run — identical digests
    // in both engines), global-first canonical rank, and the
    // gaps-and-islands span merge.
    "q252_exact_substring" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS lst FROM documents),
          b AS (SELECT doc_id, len(lst) AS n_tokens, lst FROM t
                WHERE len(lst) >= 50),
          w AS (SELECT doc_id, win.pos AS pos, win.g AS g
            FROM (SELECT doc_id,
                unnest(list_transform(range(1, n_tokens - 48), i ->
                  struct_pack(pos := i,
                    g := md5(array_to_string(
                      lst[CAST(i AS INT):CAST(i + 49 AS INT)], ' ')))))
                  AS win
              FROM b)),
          m AS (SELECT doc_id, pos FROM (SELECT doc_id, pos,
              row_number() OVER (PARTITION BY g ORDER BY doc_id, pos)
                AS rk FROM w) WHERE rk > 1),
          isl AS (SELECT doc_id, pos,
              sum(CASE WHEN lg IS NULL OR pos - lg > 50 THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) AS island
            FROM (SELECT doc_id, pos,
                lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lg
              FROM m)),
          sp AS (SELECT doc_id, island,
                  max(pos) - min(pos) + 50 AS span_tokens
                 FROM isl GROUP BY doc_id, island),
          pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                  CAST(sum(span_tokens) AS BIGINT) AS removed_tokens
                 FROM sp GROUP BY doc_id)
          SELECT b.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
            coalesce(n_spans, 0) AS n_spans,
            coalesce(removed_tokens, 0) AS removed_tokens,
            CAST(n_tokens - coalesce(removed_tokens, 0) AS BIGINT)
              AS kept_tokens
          FROM b LEFT JOIN pd USING (doc_id) ORDER BY doc_id""",

    "q94_span_dedup" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS lst FROM documents),
          s AS (SELECT doc_id, list_distinct([array_to_string(lst[i:i+7], ' ')
                  for i in range(1, len(lst) - 6)]) AS sh
                FROM t WHERE len(lst) >= 8),
          g AS (SELECT doc_id, unnest(sh) AS g FROM s),
          c AS (SELECT g, count(*) AS n_docs FROM g GROUP BY g)
          SELECT doc_id, count(*) AS n_windows,
            CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
            CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*) AS shared_frac
          FROM g JOIN c USING (g)
          GROUP BY doc_id ORDER BY doc_id""",

    "q32_canonical_fingerprint" ->
      s"""SELECT doc_id,
          md5(array_to_string(list_sort(list_distinct($tokSql)), ' ')) AS fingerprint
          FROM documents ORDER BY doc_id""",

    // DuckDB recomputes the simhash signatures from scratch (md5-lower-64
    // token hashes == md5_number_lower) and replicates the 4x16-bit band
    // condition exactly — the oracle checks LSH candidate generation AND
    // hamming verification, not just the verify stage.
    "q38_simhash_neardup" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS lst FROM documents),
          s AS (SELECT doc_id, list_transform(lst, tok -> md5_number_lower(tok)) AS hs FROM t),
          g AS (SELECT doc_id, list_sum(list_transform(range(0, 64), k ->
                  CASE WHEN 2 * len(list_filter(hs, h -> ((h >> k) & 1) = 1)) > len(hs)
                       THEN (1::HUGEINT << k) ELSE 0::HUGEINT END))::HUGEINT AS sig FROM s),
          bands AS (SELECT doc_id, sig, b AS band_id,
                      ((sig >> CAST(b * 16 AS INT)) & 65535) AS key
                    FROM g, range(0, 4) t2(b)),
          capped AS (SELECT * FROM (SELECT bands.*,
                       row_number() OVER (PARTITION BY band_id, key ORDER BY doc_id) AS rk
                     FROM bands) WHERE rk <= 64),
          pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.sig AS sig_a, b.sig AS sig_b
                    FROM capped a JOIN capped b
                      ON a.band_id = b.band_id AND a.key = b.key AND a.doc_id < b.doc_id)
          SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
          FROM pairs WHERE bit_count(xor(sig_a, sig_b)) <= 6
          ORDER BY doc_a, doc_b""",

    // dHash + banding + capped pairing recomputed end-to-end from the
    // planted pixel formula (never touching PNG bytes): pixels -> 9x8
    // integer block means -> comparison bits -> signed 64-bit pack ->
    // 16-bit band keys -> the same 64-capped bucket pairing as q38 ->
    // exact Hamming over xor
    "q223_image_dhash_neardup" ->
      s"""WITH $imageDhashEdgeCtes
          SELECT doc_a, doc_b,
            CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
          FROM ipairs WHERE bit_count(xor(sig_a, sig_b)) <= 12
          ORDER BY doc_a, doc_b""",

    "q243_jpeg_dhash_neardup" ->
      s"""WITH $jpegDhashEdgeCtes
          SELECT doc_a, doc_b,
            CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
          FROM ipairs WHERE bit_count(xor(sig_a, sig_b)) <= 12
          ORDER BY doc_a, doc_b""",

    // the q86/q143 components contract over the q223 edge CTEs: min
    // label by transitive reach, keeper = component root, plus the
    // cluster-size window
    "q229_image_dup_clusters" ->
      s"""WITH RECURSIVE $imageDhashEdgeCtes,
          fp AS (SELECT doc_a AS s, doc_b AS d FROM ipairs
                 WHERE bit_count(xor(sig_a, sig_b)) <= 12),
          und AS (SELECT s, d FROM fp UNION ALL SELECT d, s FROM fp),
          reach AS (SELECT s AS src, s AS dst FROM und
                    UNION
                    SELECT r.src, u.d FROM reach r JOIN und u ON u.s = r.dst),
          comp AS (SELECT src AS doc_id, min(dst) AS cluster_id
                   FROM reach GROUP BY src)
          SELECT doc_id, cluster_id, (doc_id = cluster_id) AS is_keeper,
            CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
              AS cluster_size
          FROM comp ORDER BY doc_id""",

    // FNV-1a chained over token bytes + 0x1f boundary markers, replayed
    // byte-for-byte in DuckDB via hex expansion + HUGEINT mod-2^64 fold.
    "q39_rolling_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS lst FROM documents),
          b AS (SELECT doc_id, flatten(list_transform(lst, tok ->
                  list_append(
                    list_transform(range(1, octet_length(encode(tok)) + 1), i ->
                      (strpos('0123456789abcdef', substr(lower(hex(encode(tok))), 2*i-1, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substr(lower(hex(encode(tok))), 2*i, 1)) - 1)),
                    31))) AS bs
                FROM t),
          f AS (SELECT doc_id, list_reduce(list_prepend(14695981039346656037::HUGEINT, bs),
                  (acc, x) -> (xor(acc::HUGEINT, x::HUGEINT) * 1099511628211) % 18446744073709551616::HUGEINT) AS h
                FROM b)
          SELECT doc_id, CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
                 THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS fp
          FROM f ORDER BY doc_id""",


    // 16-token blocks, global keep-first by (doc_id, idx), reassembly
    // in index order; string_agg skips the NULLed dropped blocks.
    "q117_block_dedup" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents),
          b0 AS (SELECT doc_id, toks,
                  unnest(range(0, CAST(ceil(len(toks) / 16.0) AS BIGINT))) AS idx
                 FROM t WHERE len(toks) > 0),
          b AS (SELECT doc_id, idx,
                  array_to_string(list_slice(toks,
                    CAST(idx AS INT) * 16 + 1, CAST(idx AS INT) * 16 + 16), ' ') AS blk
                FROM b0),
          k AS (SELECT doc_id, idx, blk,
                row_number() OVER (PARTITION BY blk ORDER BY doc_id, idx) AS rn FROM b)
          SELECT doc_id, count(*) AS n_blocks,
            CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
            coalesce(string_agg(CASE WHEN rn = 1 THEN blk END, ' ' ORDER BY idx), '') AS clean_text
          FROM k GROUP BY doc_id ORDER BY doc_id""",
  )

  /** q218's oracle, generated for T rounds: the q31 exact-Jaccard pair
    * set (all-pairs in SQL — the banded candidates are proven
    * equivalent at threshold 0.9 by q31/q86), symmetrized with degrees,
    * then T unrolled fixed-point PageRank iterations with the same
    * per-edge floor division as the Spark loop. DuckDB's sum widens to
    * HUGEINT mid-iteration (exact); every round's score is CAST back
    * to BIGINT. */
  private def dupPagerankOracleSql(rounds: Int): String = {
    def iter(r: Int) =
      s"""r$r AS (SELECT n.v,
            CAST(150000 + 850000 * coalesce(c.t, 0) // 1000000 AS BIGINT)
              AS sc
           FROM nodes n LEFT JOIN (
             SELECT e.d AS v, CAST(sum(r.sc // e.deg) AS BIGINT) AS t
             FROM edges e JOIN r${r - 1} r ON r.v = e.s GROUP BY e.d) c
           ON n.v = c.v)"""
    s"""WITH t AS (SELECT doc_id, $shSql AS sh
            FROM (SELECT doc_id, $tokSql AS lst FROM documents)
            WHERE len(lst) >= 3),
        pairs AS (SELECT a.doc_id AS s, b.doc_id AS d
                  FROM t a JOIN t b ON a.doc_id < b.doc_id
                  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.9),
        und AS (SELECT s, d FROM pairs UNION ALL SELECT d, s FROM pairs),
        deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM und
                GROUP BY s),
        edges AS (SELECT und.s, und.d, deg.deg FROM und
                  JOIN deg ON deg.s = und.s),
        nodes AS (SELECT s AS v FROM deg),
        r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS sc FROM nodes),
        ${(1 to rounds).map(iter).mkString(",\n        ")}
        SELECT CAST(row_number() OVER (ORDER BY sc DESC, v) AS BIGINT)
            AS rank,
          v AS doc_id, sc AS score
        FROM r$rounds ORDER BY sc DESC, v LIMIT 20"""
  }
}

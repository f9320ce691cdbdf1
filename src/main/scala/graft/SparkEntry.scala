package graft

import graft.kg.{ConnectedComponents, EntityLink, GraphMaterializer, KgPipeline, TripleRules}
import graft.ner.{NerModels, Tagger}
import graft.ops.{Dedup, Hashing, Multimodal, Similarity, TextAnalysis}
import graft.pipeline.Transcripts
import graft.streaming.StreamingIngest
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract: one `queries` entry per implemented operator (SURVEY.md
  * §2 + the training-data-pipeline operators), with a DuckDB-equivalent
  * `oracleSql` for every SQL-expressible one. Conventions for oracle parity:
  * counts CAST to BIGINT, inexact float aggregates rounded (sums of 2-decimal
  * money to 2 dp; similarity scores computed in double with identical fold
  * order), group keys rendered as strings where engines differ on temporal
  * types, and every query deterministic under any partitioning.
  */
object SparkEntry {

  /** Table handle memo (r6). `spark.read.parquet` performs driver-side file
    * listing + footer schema inference at DEFINITION time — a measured
    * 0.03-0.05 s single-task job per table, re-paid on every query
    * invocation and serialized (q02 touches five tables = ~0.3 s before any
    * execution). The memo caches only the resolved DataFrame HANDLE (logical
    * plan + schema — metadata, not data): every execution still scans the
    * parquet inputs from disk, so this is not result caching. An entry is
    * kept with its table's listing (every file's path, length and mtime) and
    * read again when the listing differs, so a table rewritten mid-session is
    * never read from its old files; entries of a stopped session are dropped.
    */
  private final case class Handle(listing: Long, df: DataFrame)
  private val tableMemo = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Handle]()
  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    tableMemo.keySet.removeIf(_._1.sparkContext.isStopped)
    val path = s"$dir/$name.parquet"
    val now = listing(s, path)
    tableMemo.compute((s, path),
      (_, h) => if (h != null && h.listing == now) h else Handle(now, s.read.parquet(path))).df
  }

  /** Hash of every file under `path` (path, length, modification time).
    * `listStatus` reads no permissions, so a local listing forks nothing. */
  private def listing(s: SparkSession, path: String): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Iterator[String] =
      fs.listStatus(p).iterator.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else Iterator(s"${st.getPath}\t${st.getLen}\t${st.getModificationTime}")
      }
    if (!fs.exists(root)) 0L else Hashing.fnv1a64(walk(root).toSeq.sorted.mkString("\n"))
  }

  /** Conversation count scales with the sf directory (sandbox stand-in for
    * the 10^12-turn Iceberg table).
    */
  def nConvs(dir: String): Long = {
    val sfStr = dir.split("sf").last.takeWhile(c => c.isDigit || c == '.')
    val sf = if (sfStr.nonEmpty) sfStr.toDouble else 0.001
    math.max(200L, (sf * 200000).toLong)
  }

  private def turns(s: SparkSession, dir: String) = Transcripts.synth(s, nConvs(dir))

  val TokPat = "[a-z0-9]+|[^a-z0-9\\s]"
  private def toks(c: Column) = regexp_extract_all(lower(c), lit(TokPat), lit(0))

  /** Flagship: the full KG pipeline (tag → mentions → triples) on sf0.001-scale
    * synthetic transcripts.
    */
  def entry(spark: SparkSession): DataFrame = {
    val model = NerModels.default(spark)
    KgPipeline.triples(Transcripts.synth(spark, 200L), model).toDF()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ===== relational layer (SURVEY.md §2.6 Spark-primitive checklist) =====
    "q01_pricing_summary" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"), // integer-valued: exact
          round(sum(col("l_extendedprice")), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc"),
          max(col("l_extendedprice")).as("max_price"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q02_revenue_by_nation" -> ((s, d) => {
      // r6 note: measured a Par.fan of the fact side and REVERTED it — the
      // probe chain is all broadcast joins + partial agg (vectorized,
      // ~0.06 s/600k rows even single-task), so the extra repartition only
      // added its own shuffle (+0.4 s). Broadcast builds dominate this query.
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders"); val c = t(s, d, "customer")
      val n = t(s, d, "nation"); val r = t(s, d, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),
    "q03_top_orders_per_customer" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders").withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("o_custkey"), col("rank"), col("o_orderkey"), col("o_totalprice"))
    }),
    "q04_running_supplier_revenue" -> ((s, d) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          round(sum(col("l_extendedprice")).over(w), 2).as("running_revenue"))
    }),
    "q05_customer_activity" -> ((s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      val active = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_active"))
      val inactive = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_inactive"))
      active.join(inactive, Seq("c_mktsegment"), "full_outer")
        .select(col("c_mktsegment"),
          coalesce(col("n_active"), lit(0L)).as("n_active"),
          coalesce(col("n_inactive"), lit(0L)).as("n_inactive"))
    }),
    "q06_rollup_status" -> ((s, d) => {
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"), col("n"), col("sum_qty"))
    }),
    "q07_setops_custkeys" -> ((s, d) => {
      val o = t(s, d, "orders")
      val y95 = o.where(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
      val y96 = o.where(year(col("o_orderdate")) === 1996).select(col("o_custkey"))
      y95.distinct().exceptAll(y96.distinct()).withColumnRenamed("o_custkey", "custkey")
    }),
    "q08_sessionize_events" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      // fractional epoch seconds, computed like DuckDB's epoch(ts):
      // double(micros) / 1e6 (a whole-second cast flips gaps in (1799, 1801))
      def epoch(c: Column) = unix_micros(c.cast("timestamp_ltz")).cast("double") / 1e6
      t(s, d, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            epoch(col("ts")) - epoch(col("prev_ts")) > 1800, 1).otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
    }),
    "q09_json_props" -> ((s, d) => {
      t(s, d, "events")
        .withColumn("k", regexp_extract(col("props"), "([0-9]+)", 1).cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
    }),
    "q10_daily_events" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
    }),

    // ===== text layer =====
    // r6: tokenization through the native one-pass scanner (graft_tokens /
    // graft_token_stats — output-identical to the regexp_extract_all + HOF
    // formulations, ExpressionsSpec pins it) and Par.fan so the map side is
    // not one single-split scan task. q12's old shape evaluated the token
    // regex three times per row plus two interpreted higher-order lambdas.
    "q11_tokens" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      // explode_outer + isNotNull == explode here (token arrays carry no
      // nulls), but blocks InferFiltersFromGenerate from pushing a double
      // graft_tokens evaluation into the single-task scan (see Dedup r6 note)
      graft.ops.Par.fan(t(s, d, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          explode_outer(graft.functions.GraftFunctions.graft_tokens(col("text"))).as("token"))
        .where(col("token").isNotNull)
    }),
    "q12_token_stats" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      graft.ops.Par.fan(t(s, d, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          graft.functions.GraftFunctions.graft_token_stats(col("text")).as("st"),
          length(col("text")).as("n_chars"))
        .select(col("doc_id"), col("st.n_tokens").as("n_tokens"),
          col("st.n_alpha").as("n_alpha"), col("n_chars"),
          col("st.sum_token_len").as("sum_token_len"))
    }),
    "q13_quality" -> ((s, d) => TextAnalysis.qualityScore(t(s, d, "documents"))),
    "q14_lang_id" -> ((s, d) => TextAnalysis.langId(t(s, d, "documents"))),
    "q15_dict_tag" -> ((s, d) => {
      val gazette = Seq(("join", "OP"), ("merge", "OP"), ("filter", "OP"), ("scan", "OP"),
        ("spark", "SYS"), ("customer", "ENT"), ("table", "ENT")).toDF(s)("word", "tag")
      graft.functions.GraftFunctions.register(s)
      graft.ops.Par.fan(t(s, d, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          explode_outer(graft.functions.GraftFunctions.graft_tokens(col("text"))).as("word"))
        .where(col("word").isNotNull) // see q11 note
        .join(broadcast(gazette), Seq("word"))
        .select(col("doc_id"), col("word"), col("tag"))
    }),

    // ===== dedup =====
    "q16_dedup_exact" -> ((s, d) => Dedup.exact(t(s, d, "documents"))),
    "q17_dedup_prefix" -> ((s, d) => Dedup.prefixKey(t(s, d, "documents"), k = 2)),
    // skew guard ON (maxShingleFreq=200): stop-shingles above the cap are
    // dropped from candidate generation — without it a hot boilerplate
    // shingle fans out quadratically in the pair loop (round-1 bench: q18 was
    // 332s of the 403s total at sf0.1 with the cap disabled; the oracle CTE
    // mirrors the cap exactly so the row stays hash-green).
    "q18_jaccard_pairs" -> ((s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), n = 3, tau = 0.5, maxShingleFreq = 200)),
    "q19_dup_components" -> ((s, d) => {
      import s.implicits._
      val pairs = Dedup.ngramJaccardPairs(t(s, d, "documents"), n = 3, tau = 0.5,
        maxShingleFreq = 200)
        .select(col("doc_id_1"), col("doc_id_2")).as[(Long, Long)]
      ConnectedComponents.run(pairs)
    }),
    "q20_dedup_minhash" -> ((s, d) => Dedup.minHashPairs(t(s, d, "documents"), n = 3, tau = 0.5)),
    "q21_dedup_simhash" -> ((s, d) => Dedup.simHashPairs(t(s, d, "documents"), maxHamming = 8)),

    // ===== similarity search =====
    "q22_knn_brute" -> ((s, d) => Similarity.bruteForceTopK(t(s, d, "embeddings"), k = 5, queryMod = 50)),
    "q23_knn_lsh" -> ((s, d) => Similarity.lshTopK(t(s, d, "embeddings"), k = 5, queryMod = 50)),
    "q26_knn_ivf" -> ((s, d) => Similarity.ivfTopK(t(s, d, "embeddings"), k = 5, queryMod = 50)),
    // blocked exact all-pairs (tile pair loop), NOT the broadcast cartesian:
    // same rows as the brute baseline, but distributed O(n^2/p) with no
    // driver-side materialization (round-1 review finding)
    "q24_embed_pairs" -> ((s, d) => Similarity.cosinePairsBlocked(t(s, d, "embeddings"), tau = 0.4)),

    // ===== streaming semantics (batch-equivalent; streaming path in StreamingSpec) =====
    "q25_windowed_events" -> ((s, d) => {
      StreamingIngest.windowedEventCounts(t(s, d, "events"))
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm").as("window_start"),
          col("event_type"), col("n"), col("total_value"))
    }),

    // ===== NER / KG pipeline (no SQL equivalent -> rows-only checks) =====
    "q30_ner_tags" -> ((s, d) => Tagger.tagTurns(turns(s, d), NerModels.default(s)).toDF()),
    "q31_mentions" -> ((s, d) => Tagger.mentions(turns(s, d), NerModels.default(s)).toDF()),
    "q32_triples" -> ((s, d) => KgPipeline.triples(turns(s, d), NerModels.default(s)).toDF()),
    "q33_entity_link" -> ((s, d) =>
      EntityLink.link(Tagger.mentions(turns(s, d), NerModels.default(s)))),
    "q34_graph_nodes" -> ((s, d) => {
      GraphMaterializer.rollupNodes(EntityLink.link(Tagger.mentions(turns(s, d), NerModels.default(s))))
    }),
    "q35_graph_edges" -> ((s, d) => {
      val model = NerModels.default(s)
      // ONE tagging pass feeds both triples and mentions (pinned per-turn
      // rows, KgPipeline.triplesAndMentions); the linking result is pinned
      // too, so the surface map's size guard and both joins replay blocks
      // instead of re-running tag -> link (round-2 review finding: 4x
      // recompute)
      val (tps, ments) = KgPipeline.triplesAndMentions(turns(s, d), model)
      val linked = EntityLink.link(ments).localCheckpoint()
      GraphMaterializer.joinEndpoints(tps.toDF(), linked)
        .groupBy(col("subj_id"), col("pred"), col("obj_id"))
        .agg(count(lit(1)).as("weight"))
    }),

    // ===== multimodal + fingerprints (rows-only) =====
    // feature vector rendered as a deterministic string digest: the driver's
    // pandas-based compare cannot hash an array<float> column (round-1 q36
    // row was a hard err), and the digest is equally regression-sensitive.
    "q36_multimodal_decode" -> ((s, d) =>
      Multimodal.decode(Multimodal.withPayload(t(s, d, "documents"))).toDF()
        .select(col("doc_id"), col("media_type"), col("n_bytes"), col("width"),
          col("height"), col("n_frames"),
          concat_ws(",", transform(col("feature"),
            f => f.cast("decimal(12,6)").cast("string"))).as("feature_digest"))),
    // q54: multimodal METADATA under the driver's hash gate — the Spark side
    // runs the REAL synth -> PNG/WAV/GVID encode -> decode loop (javax.imageio
    // + RIFF/GVID container parsers), the oracle computes the generator's
    // ground-truth formulas (fnv1a64/splitmix64) — certifying that the codec
    // round-trip reproduces every dimension/frame/sample count bit-exactly.
    // Codec-internal outputs (n_bytes, luminance/RMS features) remain
    // rows-only in q36 (deflate byte counts and pixel math are not
    // SQL-expressible).
    "q54_multimodal_meta" -> ((s, d) =>
      Multimodal.decode(Multimodal.withPayload(t(s, d, "documents"))).toDF()
        .select(col("doc_id"), col("media_type"), col("width"), col("height"),
          col("n_frames"))),
    "q37_fingerprints" -> ((s, d) => TextAnalysis.fingerprints(t(s, d, "documents"))),

    // native Catalyst expressions (codegen'd): shape histogram over doc tokens
    "q38_shape_histogram" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      graft.ops.Par.fan(t(s, d, "documents").select(col("text")))
        .select(explode_outer(regexp_extract_all(col("text"), lit(TokPat), lit(0))).as("tok"))
        .where(col("tok").isNotNull) // see q11 note
        .select(graft.functions.GraftFunctions.graft_shape(col("tok")).as("shape"))
        .groupBy(col("shape")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("shape"))
    }),

    // ===== q41: the CRF math itself under the driver's hash gate =====
    // A reduced-dictionary CRF (word + dan2-shape unary features; PSEQ +
    // shape-pair transition features — all four SQL-expressible) whose
    // weights derive deterministically from splitmix64(fnv(feature) ^
    // col-mix), tags every document's token stream through the REAL engine
    // path (NerModel.tag -> featuresAt/idsAt -> Crf.logPotentials ->
    // Crf.viterbi). The oracle reproduces the whole thing — feature strings,
    // weight derivation, factor sums, and the Viterbi forward-max with
    // first-index tie-breaks — in ONE DuckDB statement (the q26 unrolling
    // idea, with the per-position recursion as a recursive CTE carrying the
    // DP vector and best paths as lists). Unseen-feature dropping makes the
    // dictionary immaterial to the oracle: both sides emit features for the
    // same corpus, so membership coincides by construction.
    "q41_crf_viterbi" -> ((s, d) => {
      import s.implicits._
      val (docs, bc) = hashCrfOver(s, d)
      docs.flatMap { case (id, tk) =>
        val tags = bc.value.tag(tk.toIndexedSeq)
        tk.indices.map(i => (id, i, tk(i), tags(i)))
      }.toDF("doc_id", "pos", "token", "tag")
    }),
    // q42: the REAL span fold (Tagger.spansOfSentence — the seed of every
    // KG mention/triple) over the q41 hash-CRF tags, with invertible char
    // offsets into a deterministic single-space join of the tokens; the
    // oracle reproduces tags + offsets + the label-change/type-adjacency
    // segmentation in SQL (gaps-and-islands over consecutive equal tags)
    "q42_crf_spans" -> ((s, d) => {
      import s.implicits._
      hashCrfMentions(s, d)
        .map(m => (m.conv_id.toLong, m.etype, m.begin_char, m.end_char, m.surface))
        .toDF("doc_id", "etype", "begin_char", "end_char", "surface")
    }),
    // q43: the full text -> tags -> spans -> (subj, pred, obj) KG seed path
    // through the REAL code (Tagger.spansOfSentence + TripleRules
    // .fromSentence) — the north rule's core output shape, now under the
    // driver's hash gate instead of rows-only
    "q43_crf_triples" -> ((s, d) => hashCrfTriples(s, d)),
    // q44: the REAL EntityLink.link — minhash-LSH blocking over normalized
    // surfaces, capped-bucket candidate join, exact-jaccard scoring,
    // connected-components canonicalization, highest-mention-count
    // representative — over the deterministic hash-CRF mention stream; the
    // oracle reproduces the whole pipeline in SQL (the q20 minhash algebra +
    // the q19 recursive closure + window canonicalization)
    "q44_entity_link" -> ((s, d) => {
      EntityLink.link(hashCrfMentions(s, d))
        .select(col("etype"), col("surface"), col("surface_id"), col("n_mentions"),
          col("entity_id"), col("canonical_surface"))
    }),
    // q45/q46: the graph-materialization aggregations (the q34/q35 shapes —
    // per-entity node rollup with the max-struct canonical pick; triples
    // joined to the surface map on both endpoints into weighted edges) over
    // the hash-CRF streams, via the REAL EntityLink/GraphMaterializer code —
    // the last KG stage under the driver's hash gate
    "q45_graph_nodes" -> ((s, d) => {
      GraphMaterializer.rollupNodes(EntityLink.link(hashCrfMentions(s, d)))
    }),
    "q46_graph_edges" -> ((s, d) => {
      val tps = hashCrfTriples(s, d)
      val linked = EntityLink.link(hashCrfMentions(s, d)).localCheckpoint()
      GraphMaterializer.joinEndpoints(tps.toDF(), linked)
        .groupBy(col("subj_id"), col("pred"), col("obj_id"))
        .agg(count(lit(1)).as("weight"))
    }),

    // q47: K-BEST Viterbi (KBestSequenceFinder semantics — per-state top-k
    // with stable score-desc ordering, candidate order (prepended-class asc,
    // prev-rank asc), global top-k over final states in (state asc, rank
    // asc) stable order) for k=2 over the hash-CRF; the oracle carries the
    // 9-state x 2-rank DP score/path lists through the same recursive-CTE
    // machinery, with first-index tie selection mirroring the engine's
    // stable sort. Scores are bit-exact (same additions, same association)
    // and rounded to 6 dp on both sides.
    "q47_crf_kbest" -> ((s, d) => {
      import s.implicits._
      val (docs, bc) = hashCrfOver(s, d)
      docs.flatMap { case (id, tk) =>
        bc.value.tagKBest(tk.toIndexedSeq, 2).iterator.zipWithIndex.flatMap {
          case ((labels, score), r) =>
            tk.indices.map(i => (id, r + 1, i, tk(i), labels(i), score))
        }
      }.toDF("doc_id", "rank", "pos", "token", "tag", "score")
        .withColumn("score", round(col("score"), 6))
    }),

    // q55: the -searchGraphPrefix lattice surface (rows-only). A
    // windowSize-2 variant of the hash CRF (the reference's own
    // ViterbiSearchGraphBuilder crashes on every windowSize-3 model —
    // SearchGraph's pinned domain) emits each >=2-token document's AT&T FSM
    // lattice through the REAL path (encodeFast -> forwardBackward ->
    // condLogProbGivenPrevious -> DFSA BFS print). Lattice scores are
    // log-sum-exp values: transcendental libm output is not bit-replicable
    // in DuckDB (unlike q41/q47's max-sum arithmetic), so no SQL oracle —
    // the STRONG certificate is RefLatticeSpec's differential against the
    // reference's own .lattice files (structure byte-exact, scores within
    // 4.8e-14 over 107k lines).
    "q55_search_graph" -> ((s, d) => {
      import s.implicits._
      val docs = tokDocs(s, d)
      val words = docs.flatMap(_._2).distinct().collect().sorted
      val shapes = words.map(w => graft.text.WordShape.dan2NoLC(w)).distinct.sorted
      val pairs = docs.flatMap { case (_, tk) =>
        tk.indices.iterator.map { i =>
          val p = if (i == 0) "" else graft.text.WordShape.dan2NoLC(tk(i - 1))
          (p, graft.text.WordShape.dan2NoLC(tk(i)))
        }
      }.distinct().collect().sorted
      val bc = s.sparkContext.broadcast(hashCrfModel(words, shapes, pairs, windowSize = 2))
      docs.filter(_._2.length >= 2).flatMap { case (id, tk) =>
        graft.ner.SearchGraph.attLattice(bc.value, tk.toIndexedSeq)
          .iterator.zipWithIndex.map { case (line, ln) => (id, ln, line) }
      }.toDF("doc_id", "ln", "line").orderBy("doc_id", "ln")
    }),

    // q48: LEARNED-weight CRF inference under the driver's hash gate — the
    // q41 machinery with TRAINED weights instead of hash-derived ones.
    // TrainedCrf is a real L-BFGS fit (full Trainer path: distributed
    // dictionary, Ehat, treeAggregate gradient, Breeze L-BFGS) over a
    // deterministic corpus, dictionary restricted to the four
    // SQL-expressible families; tagging runs the identical engine path
    // (featuresAt -> idsAt -> logPotentials -> viterbi) and the oracle
    // embeds featureIndex + weights as CAST('<repr>' AS DOUBLE) VALUES rows
    // and replays emission -> weight join -> potentials -> Viterbi in one
    // DuckDB statement. Closes the trained-weights leg q30-q35's analogs
    // could not certify.
    "q48_crf_trained" -> ((s, d) => {
      import s.implicits._
      val (docs, bc) = trainedOver(s, d)
      docs.flatMap { case (id, tk) =>
        val tags = bc.value.tag(tk.toIndexedSeq)
        tk.indices.map(i => (id, i, tk(i), tags(i)))
      }.toDF("doc_id", "pos", "token", "tag")
    }),
    // q49-q53: the whole KG pipeline over the TRAINED model — the same REAL
    // code paths the hash-CRF rows certify (Tagger.spansOfSentence,
    // TripleRules.fromSentence, EntityLink.link, the GraphMaterializer
    // rollups), now with learned weights, each stage hash-gated.
    // q56: the q30 production shape under the hash gate — REAL transcript
    // turns (detokenized text) through the REAL serving path (tagTurns:
    // PTB tokenize -> sentence split -> broadcast-model Viterbi) with a
    // 4-class model trained on gold transcript turns; the oracle regenerates
    // the token stream from the generator's splitmix64 formulas (the q54
    // pattern — agreement therefore also certifies the tokenizer round trip)
    // and replays shapes -> learned-weight joins -> 4-state Viterbi.
    "q56_trained_transcripts_tags" -> ((s, d) => {
      val bc = s.sparkContext.broadcast(TrainedTranscriptsCrf.model(s))
      Tagger.tagTurns(turns(s, d), bc)
        .select(col("conv_id"), col("turn_idx"), col("token_idx").as("pos"),
          col("word").as("token"), col("answer").as("tag"))
    }),
    // q57/q58: the north rule's headline outputs — mention spans (with REAL
    // tokenizer character offsets) and (subj, pred, obj) triples over the
    // transcript table — through the REAL shuffle-free pipeline
    // (Tagger.mentions / KgPipeline.triples), hash-gated against the
    // detokenize-offset + trigger-scan oracle.
    "q57_trained_transcripts_spans" -> ((s, d) => {
      val bc = s.sparkContext.broadcast(TrainedTranscriptsCrf.model(s))
      Tagger.mentions(turns(s, d), bc).toDF()
    }),
    "q58_trained_transcripts_triples" -> ((s, d) => {
      val bc = s.sparkContext.broadcast(TrainedTranscriptsCrf.model(s))
      KgPipeline.triples(turns(s, d), bc).toDF()
    }),
    // q59-q61: linking + graph rollups over the trained-transcripts stream —
    // the q33-q35 production shapes, hash-gated (the PERSON title strip does
    // real work here: 'Dr. Alice Johnson' links to 'Alice Johnson').
    // q62-q64: the DEFAULT on-disk production model (q30/q32/q33's own
    // weights) under the hash gate — the engine side is the q30/q32/q33
    // code path verbatim; the oracle re-derives the complete conllNoTags
    // feature surface (n-grams, knownLC shapes, disjunctive windows, the
    // sequence templates), the observed-window potential tables and a
    // 16-state second-order Viterbi from the embedded weight matrix.
    "q62_default_model_tags" -> ((s, d) =>
      Tagger.tagTurns(turns(s, d), NerModels.default(s))
        .select(col("conv_id"), col("turn_idx"), col("token_idx").as("pos"),
          col("word").as("token"), col("answer").as("tag"))),
    "q63_default_model_triples" -> ((s, d) =>
      KgPipeline.triples(turns(s, d), NerModels.default(s)).toDF()),
    "q64_default_model_link" -> ((s, d) =>
      EntityLink.link(Tagger.mentions(turns(s, d), NerModels.default(s)))
        .select(col("etype"), col("surface"), col("surface_id"), col("n_mentions"),
          col("entity_id"), col("canonical_surface"))),
    "q59_trained_transcripts_link" -> ((s, d) => {
      val bc = s.sparkContext.broadcast(TrainedTranscriptsCrf.model(s))
      EntityLink.link(Tagger.mentions(turns(s, d), bc))
        .select(col("etype"), col("surface"), col("surface_id"), col("n_mentions"),
          col("entity_id"), col("canonical_surface"))
    }),
    "q60_trained_transcripts_nodes" -> ((s, d) => {
      val bc = s.sparkContext.broadcast(TrainedTranscriptsCrf.model(s))
      GraphMaterializer.rollupNodes(EntityLink.link(Tagger.mentions(turns(s, d), bc)))
    }),
    "q61_trained_transcripts_edges" -> ((s, d) => {
      val bc = s.sparkContext.broadcast(TrainedTranscriptsCrf.model(s))
      val (tps, ments) = KgPipeline.triplesAndMentions(turns(s, d), bc)
      val linked = EntityLink.link(ments).localCheckpoint()
      GraphMaterializer.joinEndpoints(tps.toDF(), linked)
        .groupBy(col("subj_id"), col("pred"), col("obj_id"))
        .agg(count(lit(1)).as("weight"))
    }),
    "q49_crf_trained_spans" -> ((s, d) => {
      import s.implicits._
      val (docs, bc) = trainedOver(s, d)
      crfMentionsOf(s, docs, bc)
        .map(m => (m.conv_id.toLong, m.etype, m.begin_char, m.end_char, m.surface))
        .toDF("doc_id", "etype", "begin_char", "end_char", "surface")
    }),
    "q50_crf_trained_triples" -> ((s, d) => {
      val (docs, bc) = trainedOver(s, d)
      crfTriplesOf(s, docs, bc)
    }),
    "q51_trained_entity_link" -> ((s, d) => {
      val (docs, bc) = trainedOver(s, d)
      EntityLink.link(crfMentionsOf(s, docs, bc))
        .select(col("etype"), col("surface"), col("surface_id"), col("n_mentions"),
          col("entity_id"), col("canonical_surface"))
    }),
    "q52_trained_graph_nodes" -> ((s, d) => {
      val (docs, bc) = trainedOver(s, d)
      GraphMaterializer.rollupNodes(EntityLink.link(crfMentionsOf(s, docs, bc)))
    }),
    "q53_trained_graph_edges" -> ((s, d) => {
      val (docs, bc) = trainedOver(s, d)
      val tps = crfTriplesOf(s, docs, bc)
      val linked = EntityLink.link(crfMentionsOf(s, docs, bc)).localCheckpoint()
      GraphMaterializer.joinEndpoints(tps.toDF(), linked)
        .groupBy(col("subj_id"), col("pred"), col("obj_id"))
        .agg(count(lit(1)).as("weight"))
    }),

    // ===== ObjectBank record-iterator sources (reference objectbank/
    // DelimitRegExIterator.java, XMLBeginEndIterator.java): a deterministic
    // corpus file is synthesized from the documents table, then read back
    // through the REAL file-based reader path (wholetext scan + record fold),
    // so the oracle (documents in doc_id order) certifies the whole
    // write -> scan -> record-split round trip =====
    // the fixture corpus is written DISTRIBUTED (write.text streams each
    // row straight to the file; round-3 review: the old collect() + driver
    // Files.writeString materialized every document in driver memory). One
    // sorted partition keeps the byte layout identical to the single-file
    // original — record_idx must equal global doc_id order, which a
    // multi-file layout cannot guarantee without encoding file order.
    "q39_delimited_records" -> ((s, d) => {
      if (t(s, d, "documents").isEmpty)
        s.createDataFrame(Seq.empty[(Int, String)]).toDF("record_idx", "record")
      else {
        val dir = java.nio.file.Files.createTempDirectory("graft_delim_")
        t(s, d, "documents")
          .select(col("doc_id"), concat(lit("-DOCSTART-\n"), col("text")).as("value"))
          .repartition(1).sortWithinPartitions(col("doc_id")).select(col("value"))
          .write.mode("overwrite").text(s"$dir/corpus")
        graft.sources.RecordIterators.readDelimited(s, s"$dir/corpus", "\\n?-DOCSTART-\\n")
          .select(col("record_idx"), col("record"))
      }
    }),
    "q40_xml_records" -> ((s, d) => {
      if (t(s, d, "documents").isEmpty)
        s.createDataFrame(Seq.empty[(Int, String)]).toDF("record_idx", "record")
      else {
        val dir = java.nio.file.Files.createTempDirectory("graft_xml_")
        // noise elements + free text between records must be skipped
        t(s, d, "documents")
          .select(col("doc_id"),
            concat(lit("<doc>"), col("text"), lit("</doc>\n<meta>skip me</meta>\nloose text")).as("value"))
          .repartition(1).sortWithinPartitions(col("doc_id")).select(col("value"))
          .write.mode("overwrite").text(s"$dir/corpus")
        graft.sources.RecordIterators.readXmlElements(s, s"$dir/corpus", "doc")
          .select(col("record_idx"), col("record"))
      }
    })
  )

  private implicit class SeqToDF(private val rows: Seq[(String, String)]) {
    def toDF(s: SparkSession)(c1: String, c2: String): DataFrame =
      s.createDataFrame(rows).toDF(c1, c2)
  }

  // ---- q41 model: deterministic hash-derived CRF weights ----
  /** Weight of `feature` in label-window column `col`: splitmix64 of the
    * feature's FNV-1a hash xored with a per-column mix, mapped to [-1, 1).
    * Every operation (wrap-around multiply/add, xor, >>> , exact power-of-two
    * division, *2-1) is bit-identical between JVM doubles and DuckDB's —
    * that is what lets the oracle derive the SAME weights with no dictionary.
    */
  private[graft] def hashWeight(feature: String, col: Int): Double = {
    val h = graft.ops.Hashing.splitmix64(
      graft.ops.Hashing.fnv1a64(feature) ^ (0x9e3779b97f4a7c15L * (col + 1)))
    ((h >>> 11).toDouble / 9007199254740992.0) * 2.0 - 1.0
  }

  /** Deterministic single-space join of a doc's tokens with cumulative char
    * offsets — the invertible-offset shape the real span fold needs.
    */
  private def joinedTokens(tk: Seq[String]): (Seq[graft.text.RawToken], String) = {
    var off = 0
    val raws = tk.map { w =>
      val b = off; off += w.length + 1; graft.text.RawToken(w, b, b + w.length)
    }
    (raws, tk.mkString(" "))
  }

  /** Mention stream over any (docs, broadcast model) pair: tag every doc, run
    * the REAL Tagger.spansOfSentence fold. Shared by the hash-CRF (q42/q44-46)
    * and trained-CRF (q49/q51-53) gate queries.
    */
  private def crfMentionsOf(s: SparkSession,
      docs: org.apache.spark.sql.Dataset[(Long, Seq[String])],
      bc: org.apache.spark.broadcast.Broadcast[graft.ner.NerModel]):
      org.apache.spark.sql.Dataset[graft.pipeline.Mention] = {
    import s.implicits._
    docs.flatMap { case (id, tk) =>
      val tags = bc.value.tag(tk.toIndexedSeq)
      val (raws, text) = joinedTokens(tk)
      graft.ner.Tagger.spansOfSentence(id.toString, 0, 0, raws.toIndexedSeq,
        tags.toIndexedSeq, text, "O")
    }
  }

  /** Triple stream over any (docs, broadcast model) pair: tag -> REAL span
    * fold -> REAL TripleRules.fromSentence per doc.
    */
  private def crfTriplesOf(s: SparkSession,
      docs: org.apache.spark.sql.Dataset[(Long, Seq[String])],
      bc: org.apache.spark.broadcast.Broadcast[graft.ner.NerModel]): DataFrame = {
    import s.implicits._
    docs.flatMap { case (id, tk) =>
      val tags = bc.value.tag(tk.toIndexedSeq)
      val (raws, text) = joinedTokens(tk)
      val ments = graft.ner.Tagger.spansOfSentence(id.toString, 0, 0, raws.toIndexedSeq,
        tags.toIndexedSeq, text, "O")
      TripleRules.fromSentence(ments, raws.map(r => (r.word, r.begin)))
        .map(t => (id, t.subj, t.subj_type, t.pred, t.obj, t.obj_type))
    }.toDF("doc_id", "subj", "subj_type", "pred", "obj", "obj_type")
  }

  private def hashCrfMentions(s: SparkSession, d: String):
      org.apache.spark.sql.Dataset[graft.pipeline.Mention] = {
    val (docs, bc) = hashCrfOver(s, d)
    crfMentionsOf(s, docs, bc)
  }

  private def hashCrfTriples(s: SparkSession, d: String): DataFrame = {
    val (docs, bc) = hashCrfOver(s, d)
    crfTriplesOf(s, docs, bc)
  }

  /** Tokenized documents + the broadcast TRAINED model (q48-q53). */
  private def trainedOver(s: SparkSession, d: String): (
      org.apache.spark.sql.Dataset[(Long, Seq[String])],
      org.apache.spark.broadcast.Broadcast[graft.ner.NerModel]) =
    (tokDocs(s, d), s.sparkContext.broadcast(TrainedCrf.model(s)))

  /** Tokenized documents + the broadcast hash-CRF over their vocabulary
    * (shared by q41-q46). The dictionary build is a vocabulary-sized driver
    * collect, same shape as the reference's in-RAM Index
    * (CRFClassifier.java:381-501). Memoized per (session, dir): the six KG
    * oracle queries would otherwise rebuild the identical model (three
    * aggregation jobs each) every invocation of one Verify run.
    */
  // memo-of-ONE: Verify runs the KG oracle queries back-to-back over a single
  // (session, dir), so one entry captures all the reuse; on a key change the
  // evicted broadcast is destroyed so a long-lived driver iterating many dirs
  // or sessions cannot accumulate broadcasts (round-4 verdict/advice)
  private var hashCrfMemo: ((SparkSession, String), (org.apache.spark.sql.Dataset[(Long, Seq[String])],
      org.apache.spark.broadcast.Broadcast[graft.ner.NerModel])) = null

  private def hashCrfOver(s: SparkSession, d: String): (
      org.apache.spark.sql.Dataset[(Long, Seq[String])],
      org.apache.spark.broadcast.Broadcast[graft.ner.NerModel]) = synchronized {
    val key = (s, d)
    if (hashCrfMemo == null || hashCrfMemo._1 != key) {
      if (hashCrfMemo != null) {
        try hashCrfMemo._2._2.destroy() catch { case _: Throwable => () }
      }
      hashCrfMemo = (key, buildHashCrf(s, d))
    }
    hashCrfMemo._2
  }

  /** Tokenized documents table (the shared tag-corpus shape of q41-q53).
    * r6: Par.fan first — the downstream per-doc CRF decode otherwise runs in
    * ONE task (single parquet split); graft_tokens = the native scanner,
    * output-identical to `toks` (ExpressionsSpec).
    */
  private def tokDocs(s: SparkSession, d: String):
      org.apache.spark.sql.Dataset[(Long, Seq[String])] = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    graft.ops.Par.fan(t(s, d, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"), graft.functions.GraftFunctions.graft_tokens(col("text")).as("tk"))
      .as[(Long, Seq[String])]
  }

  private def buildHashCrf(s: SparkSession, d: String): (
      org.apache.spark.sql.Dataset[(Long, Seq[String])],
      org.apache.spark.broadcast.Broadcast[graft.ner.NerModel]) = {
    import s.implicits._
    val docs = tokDocs(s, d)
    val words = docs.flatMap(_._2).distinct().collect().sorted
    val shapes = words.map(w => graft.text.WordShape.dan2NoLC(w)).distinct.sorted
    val pairs = docs.flatMap { case (_, tk) =>
      tk.indices.iterator.map { i =>
        val p = if (i == 0) "" else graft.text.WordShape.dan2NoLC(tk(i - 1))
        (p, graft.text.WordShape.dan2NoLC(tk(i)))
      }
    }.distinct().collect().sorted
    (docs, s.sparkContext.broadcast(hashCrfModel(words, shapes, pairs)))
  }

  /** 3-class (O/LOC/PER), windowSize-3, full-product-layout CRF whose
    * dictionary holds exactly: `w-WORD|C` per distinct (fixed) word,
    * `s-TYPE|C` per distinct dan2 shape, `PSEQ|CpC`, and `ps-cs-TYPES|CpC`
    * per observed adjacent shape pair ("" = boundary, getString semantics).
    * All other features the engine emits hash-miss and drop — the
    * reference's own unseen-feature rule (CRFClassifier.java:200-207).
    */
  private def hashCrfModel(words: Array[String], shapes: Array[String],
      pairs: Array[(String, String)], windowSize: Int = 3): graft.ner.NerModel = {
    val g0 = words.map(w => graft.text.WordShape.fixWord(w) + "-WORD|C") ++
      shapes.map(_ + "-TYPE|C")
    val g1 = Array("PSEQ|CpC") ++ pairs.map { case (p, c) => s"$p-$c-TYPES|CpC" }
    val feats: Array[(String, Int)] = (g0.map((_, 0)) ++ g1.map((_, 1))).distinct
    val featureIndex = new java.util.HashMap[String, Integer](feats.length * 2)
    val featGroup = new Array[Int](feats.length)
    val weights = new Array[Array[Double]](feats.length)
    for (((f, g), id) <- feats.zipWithIndex) {
      featureIndex.put(f, Integer.valueOf(id))
      featGroup(id) = g
      weights(id) = Array.tabulate(graft.core.Crf.pow(3, g + 1))(c => hashWeight(f, c))
    }
    // real label names so TripleRules triggers apply downstream (q43)
    new graft.ner.NerModel(Array("O", "LOCATION", "PERSON"), 0, featureIndex,
      graft.train.WeightLayout.fullProduct(3, windowSize, 0, featGroup), weights, Set.empty)
  }

  // ---- DuckDB oracles ----
  private val TokSql = "[a-z0-9]+|[^a-z0-9\\s]"
  private val shinglesCte =
    s"""tok AS (SELECT doc_id, regexp_extract_all(lower(text), '$TokSql') t FROM documents),
       |g AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t)-1)]) sh FROM tok WHERE len(t) >= 3),
       |e AS (SELECT doc_id, s FROM (
       |  SELECT doc_id, s, count(*) OVER (PARTITION BY s) freq
       |  FROM (SELECT doc_id, unnest(sh) s FROM g)) WHERE freq <= 200),
       |sz AS (SELECT doc_id, len(sh) nsh FROM g),
       |i AS (SELECT a.doc_id d1, b.doc_id d2, count(*) inter FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |pairs AS (SELECT d1 AS doc_id_1, d2 AS doc_id_2, round(inter * 1.0 / (x.nsh + y.nsh - inter), 4) AS jaccard
       |  FROM i JOIN sz x ON i.d1 = x.doc_id JOIN sz y ON i.d2 = y.doc_id
       |  WHERE round(inter * 1.0 / (x.nsh + y.nsh - inter), 4) >= 0.5)""".stripMargin

  // ---- 64-bit hash algebra in DuckDB SQL ----
  // Oracles for the sketch operators (minhash, simhash, fingerprints) compute
  // the SAME algorithms independently in pure single-statement SQL: unsigned
  // 64-bit values live in HUGEINT, xor() is native, >>> k is // 2^k, and
  // (a*b) mod 2^64 splits a into 32-bit halves so the 128-bit product never
  // overflows: a*b mod 2^64 = (a_lo*b + ((a_hi*b_lo) mod 2^32)*2^32) mod 2^64.
  private val M64 = "18446744073709551616" // 2^64
  private def umul64(t: String, c: Long): String = {
    val cu = java.lang.Long.toUnsignedString(c)
    val cl = java.lang.Long.toUnsignedString(c & 0xffffffffL)
    s"(($t) % 4294967296 * $cu + (($t) // 4294967296 * $cl % 4294967296) * 4294967296) % $M64::HUGEINT"
  }
  /** FNV-1a over a string expr (== Hashing.fnv1a64, unsigned in HUGEINT). */
  private def fnvSql(col: String): String =
    s"""list_reduce(list_prepend(14695981039346656037::HUGEINT,
       |    list_transform(string_split($col,''), c -> ord(c)::HUGEINT)),
       |  (h, c) -> ${umul64("xor(h, c)", 0x100000001b3L)})""".stripMargin
  /** Distinct word n-gram shingle STRINGS of lower(text) over whitespace
    * tokens, with the <n-token singleton rule (== Hashing.wordShingles'
    * pre-hash shingle set). CTEs: toks, sh.
    */
  private def wordShinglesCtes(n: Int): String =
    s"""toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= $n
       |  THEN [array_to_string(t[i:i+${n - 1}], ' ') FOR i IN range(1, len(t)-${n - 2})]
       |  ELSE [array_to_string(t, ' ')] END) shingles FROM toks)""".stripMargin
  private val powersCte =
    "powers(b, pw) AS (VALUES " +
      (0 until 64).map(b => s"($b,${java.lang.Long.toUnsignedString(1L << b)}::HUGEINT)").mkString(",") + ")"
  /** Per-doc 64-bit SimHash (== Hashing.simHash over wordShingles(lower, n)):
    * fnv each shingle, splitmix64 staged (sm1-sm3, hs), per-bit majority vote.
    * CTEs: toks, sh, shx, sm1..sm3, hs, powers, bits, sim.
    */
  private def simhashCtes(n: Int): String =
    s"""${wordShinglesCtes(n)},
       |shx AS (SELECT doc_id, ${fnvSql("s")} x FROM (SELECT doc_id, unnest(shingles) s FROM sh)),
       |sm1 AS (SELECT doc_id, (x + 11400714819323198485) % $M64::HUGEINT z1 FROM shx),
       |sm2 AS (SELECT doc_id, ${umul64("xor(z1, z1 // 1073741824)", 0xbf58476d1ce4e5b9L)} z2 FROM sm1),
       |sm3 AS (SELECT doc_id, ${umul64("xor(z2, z2 // 134217728)", 0x94d049bb133111ebL)} z3 FROM sm2),
       |hs AS (SELECT doc_id, xor(z3, z3 // 2147483648) h FROM sm3),
       |$powersCte,
       |bits AS (SELECT doc_id, b, sum(((h // pw) % 2)::BIGINT) ones, count(*) nsh
       |  FROM hs CROSS JOIN powers GROUP BY doc_id, b),
       |sim AS (SELECT doc_id, sum(CASE WHEN 2*ones > nsh THEN pw ELSE 0::HUGEINT END) sim
       |  FROM bits JOIN powers USING (b) GROUP BY doc_id)""".stripMargin
  /** HUGEINT in [0, 2^64) -> its signed-64 value as BIGINT (Spark LongType). */
  private def toSigned(c: String): String =
    s"CAST(CASE WHEN $c >= 9223372036854775808 THEN $c - $M64 ELSE $c END AS BIGINT)"
  /** MinHash universal-hash constants, derived EXACTLY as Hashing.minHash
    * derives them (a_i normalized to its signed value mod 2^61-1, matching
    * mulmod61's signed-product semantics; b_i masked to 61 bits).
    */
  private val minhashHashersCte: String = {
    val P = (1L << 61) - 1
    val rows = (0 until 64).map { i =>
      val a = graft.ops.Hashing.splitmix64(0x5eedL + 2L * i) | 1L
      val aModP = { val m = a % P; if (m < 0) m + P else m }
      val b = graft.ops.Hashing.splitmix64(0x5eedL + 2L * i + 1) & P
      s"($i,$aModP::HUGEINT,$b::HUGEINT)"
    }
    s"hashers(i, a, b) AS (VALUES ${rows.mkString(",")})"
  }

  /** Full IVF-Flat oracle (q26): the ENTIRE pipeline — splitmix64 seeding of
    * the 16 initial centroids, FIVE unrolled Lloyd iterations (assignment by
    * squared L2 with (dist, centroid) tie order; per-cluster mean via a
    * sorted-by-vec_id left fold, bit-identical to the operator's
    * flatMapSortedGroups fold; empty cells keep their centroid), final
    * assignment, nProbe=4 probing, and exact cosine rerank — reproduced in
    * ONE DuckDB statement. Round 2 recorded this as "iterative — no
    * single-statement SQL oracle possible"; unrolling the fixed iteration
    * count makes it possible, and it certifies the k-means itself, not just
    * the rerank.
    */
  private val ivfOracleSql: String = {
    val dim = 64
    def dist(v: String, w: String) =
      s"list_reduce([($v[i]-$w[i])*($v[i]-$w[i]) FOR i IN range(1,${dim + 1})], (x,y)->x+y)"
    def cos(a: String, b: String) =
      s"round(list_dot_product($a,$b) / (sqrt(list_dot_product($a,$a)) * sqrt(list_dot_product($b,$b))), 6)"
    val sm = // splitmix64 over vec_id, unsigned stages in HUGEINT
      s"""esm AS (SELECT vec_id, de, xor(z3, z3 // 2147483648) smu FROM (
         |  SELECT vec_id, de, ${umul64("xor(z2, z2 // 134217728)", 0x94d049bb133111ebL)} z3 FROM (
         |    SELECT vec_id, de, ${umul64("xor(z1, z1 // 1073741824)", 0xbf58476d1ce4e5b9L)} z2 FROM (
         |      SELECT vec_id, de, (vec_id::HUGEINT + 11400714819323198485) % $M64::HUGEINT z1 FROM e))))""".stripMargin
    def lloyd(k: Int) =
      s"""a$k AS (SELECT vec_id, de, ci FROM (
         |  SELECT e.vec_id, e.de, c.ci,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${dist("e.de", "c.w")}, c.ci) rn
         |  FROM e CROSS JOIN c${k - 1} c) WHERE rn = 1),
         |s$k AS (SELECT ci, list_reduce(list(de ORDER BY vec_id), (a,b) -> [a[i]+b[i] FOR i IN range(1,${dim + 1})]) s, count(*) n
         |  FROM a$k GROUP BY ci),
         |c$k AS (SELECT p.ci, CASE WHEN s.ci IS NULL THEN p.w ELSE [s.s[i]/s.n FOR i IN range(1,${dim + 1})] END w
         |  FROM c0 p LEFT JOIN s$k s ON p.ci = s.ci)""".stripMargin
    val iters = 5
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) de FROM embeddings),
       |$sm,
       |c0 AS (SELECT row_number() OVER (ORDER BY sms) - 1 ci, de w FROM (
       |  SELECT ${toSigned("smu")} sms, de FROM esm ORDER BY 1 LIMIT 16)),
       |${(1 to iters).map(lloyd).mkString(",\n")},
       |af AS (SELECT vec_id, de, ci FROM (
       |  SELECT e.vec_id, e.de, c.ci,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${dist("e.de", "c.w")}, c.ci) rn
       |  FROM e CROSS JOIN c$iters c) WHERE rn = 1),
       |probe AS (SELECT vec_id qid, de qde, ci FROM (
       |  SELECT e.vec_id, e.de, c.ci,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${dist("e.de", "c.w")}, c.ci) rn
       |  FROM (SELECT * FROM e WHERE vec_id % 50 = 0) e CROSS JOIN c$iters c) WHERE rn <= 4),
       |cand AS (SELECT p.qid, a.vec_id, ${cos("p.qde", "a.de")} sim
       |  FROM af a JOIN probe p ON a.ci = p.ci AND a.vec_id != p.qid),
       |ranked AS (SELECT qid query_id, vec_id neighbor_id, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) rank FROM cand)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, sim FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** RHP hyperplane constants for the q23 oracle, derived by the SAME
    * function the operator uses (Similarity.rhpWeight; Java Double.toString
    * round-trips exactly through DuckDB's parser).
    */
  private val rhpHyperCte: String = {
    val rows = for (t <- 0 until 16; b <- 0 until 6) yield {
      val w = (0 until 64).map(i => Similarity.rhpWeight(0xb175L + 7919L * t, b, i).toString)
      s"($t,$b,[${w.mkString(",")}]::DOUBLE[])"
    }
    s"hyper(t, b, w) AS (VALUES ${rows.mkString(",")})"
  }

  /** dan2UseLC char-class list of a string column (shape stage 1): d/x/X
    * classes with the '_'→x rule.
    */
  private def dan2ClsSql(c: String): String =
    s"""list_transform(string_split($c, ''), ch ->
       |        CASE WHEN ch BETWEEN '0' AND '9' THEN 'd'
       |             WHEN (ch BETWEEN 'a' AND 'z') OR ch = '_' THEN 'x'
       |             WHEN ch BETWEEN 'A' AND 'Z' THEN 'X'
       |             ELSE ch END)""".stripMargin

  /** dan2UseLC shape from a `cls` class-list column (stage 2): run-collapse
    * via index-aware list_filter (NOT a VARCHAR-accumulator list_reduce —
    * see the q38 oracle / TranscriptsOracle for the DuckDB 1.0.0 defect),
    * the leading-'~' lastM quirk, :len suffix; knownLCWords empty → no 'k'.
    */
  private def dan2FromClsSql(c: String): String =
    s"""'WT-' || regexp_replace(array_to_string(
       |      list_filter(cls, (ch, j) -> j = 1 OR ch != cls[j-1]), ''), '^~', '') ||
       |    CASE WHEN length($c) <= 3 THEN ':' || length($c) ELSE '' END""".stripMargin

  /** Full CRF-Viterbi oracle (q41): feature strings -> hash-derived weights
    * (fnv + per-column golden-ratio mix + splitmix64 -> [-1,1) double, the
    * EXACT formula of `hashWeight`) -> per-position 9-entry (prev,cur)
    * potential lists -> the Viterbi forward max as a recursive CTE carrying
    * the DP score vector and the best label paths, with the engine's
    * first-index tie order (strict-> comparisons; CASE chains keep the first
    * maximum). Numeric parity is BIT-exact, not approximate: both sides add
    * the same doubles in the same association order (u=(wWORD+wTYPE),
    * tr=(wPSEQ+wTYPES), psi=u+tr, path=((psi1+psi2)+psi3)...).
    */
  /** The shared CRF-tag CTE chain (everything up to a per-token `tags`
    * relation `(doc_id, i, w, tag)`), used by the q41 (tags) and q42 (spans)
    * oracles.
    */
  /** Shared token/shape CTE prefix (documents -> per-position token, dan2
    * shape, lagged prev shape) used by the q41-q47 hash-CRF oracles AND the
    * q48 trained-weights oracle.
    */
  private val tokShapeCtes: String =
    s"""tok AS (SELECT doc_id, regexp_extract_all(lower(text), '$TokSql') t FROM documents),
       |posn AS (SELECT doc_id, unnest(range(1, len(t)+1)) AS i, t FROM tok),
       |wrow AS (SELECT doc_id, i, t[i] AS w, len(t) AS n FROM posn),
       |wcls AS (SELECT doc_id, i, w, n, ${dan2ClsSql("w")} AS cls FROM wrow),
       |shp AS (SELECT doc_id, i, w, n, ${dan2FromClsSql("w")} AS s FROM wcls),
       |pshp AS (SELECT doc_id, i, w, n, s,
       |    coalesce(lag(s) OVER (PARTITION BY doc_id ORDER BY i), '') AS ps FROM shp)""".stripMargin

  /** Shared 3-state Viterbi tail over a `pots(doc_id, i, n, pot9)` relation:
    * the recursive forward max carrying the DP score vector and best label
    * paths as lists, with the engine's first-index tie order (strict->
    * comparisons; CASE chains keep the first maximum). `labels` maps DP state
    * 0/1/2 to tag strings (classIndex order: background first, rest sorted).
    */
  private def viterbiTailCtes(labels: Seq[String]): String = {
    require(labels.length == 3, "viterbiTailCtes generates a 3-state DP")
    def cand(pp: Int, l: Int) = s"(v.scores[${pp + 1}] + p.pot9[${pp * 3 + l + 1}])"
    def bestVal(l: Int) = s"greatest(${cand(0, l)}, ${cand(1, l)}, ${cand(2, l)})"
    def bestPath(l: Int) =
      s"(CASE WHEN ${cand(0, l)} >= ${cand(1, l)} AND ${cand(0, l)} >= ${cand(2, l)} THEN v.paths[1] " +
        s"WHEN ${cand(1, l)} >= ${cand(2, l)} THEN v.paths[2] ELSE v.paths[3] END || [$l])"
    s"""vit AS (
       |  SELECT doc_id, i, n, [pot9[1], pot9[2], pot9[3]] scores,
       |    [[0], [1], [2]] paths
       |  FROM pots WHERE i = 1
       |  UNION ALL
       |  SELECT p.doc_id, p.i, p.n,
       |    [${bestVal(0)}, ${bestVal(1)}, ${bestVal(2)}],
       |    [${bestPath(0)}, ${bestPath(1)}, ${bestPath(2)}]
       |  FROM vit v JOIN pots p ON p.doc_id = v.doc_id AND p.i = v.i + 1),
       |fin AS (SELECT doc_id,
       |    CASE WHEN scores[1] >= scores[2] AND scores[1] >= scores[3] THEN paths[1]
       |         WHEN scores[2] >= scores[3] THEN paths[2] ELSE paths[3] END path
       |  FROM vit WHERE i = n),
       |tags AS (SELECT w.doc_id, w.i, w.w,
       |    CASE f.path[w.i] WHEN 0 THEN '${labels(0)}' WHEN 1 THEN '${labels(1)}' ELSE '${labels(2)}' END AS tag
       |  FROM wrow w JOIN fin f USING (doc_id))""".stripMargin
  }

  private val crfTagsCtes: String = {
    val golden = 0x9e3779b97f4a7c15L
    def mixRows(n: Int): String =
      (0 until n).map(c => s"($c,${java.lang.Long.toUnsignedString(golden * (c + 1))}::HUGEINT)")
        .mkString(",")
    // CAST the STRING form: a bare numeric literal is inferred as DECIMAL,
    // and DECIMAL->DOUBLE does NOT round-trip every shortest-repr double
    // (found via q47's 1-ulp rank-2 tie divergence); string->DOUBLE parsing
    // is correctly rounded
    val pseqRows = (0 until 9)
      .map(c => s"($c,CAST('${hashWeight("PSEQ|CpC", c)}' AS DOUBLE))").mkString(",")
    s"""WITH RECURSIVE
       |$tokShapeCtes,
       |hbase AS (SELECT doc_id, i, n,
       |    ${fnvSql("w || '-WORD|C'")} hw,
       |    ${fnvSql("s || '-TYPE|C'")} hs,
       |    ${fnvSql("ps || '-' || s || '-TYPES|CpC'")} ht FROM pshp),
       |mixu(col, mx) AS (VALUES ${mixRows(3)}),
       |mixt(col, mx) AS (VALUES ${mixRows(9)}),
       |pseqw(col, pw) AS (VALUES $pseqRows),
       |hx AS (
       |  SELECT doc_id, i, 'u' kind, col, xor(hw, mx) x FROM hbase, mixu
       |  UNION ALL SELECT doc_id, i, 'u', col, xor(hs, mx) FROM hbase, mixu
       |  UNION ALL SELECT doc_id, i, 't', col, xor(ht, mx) FROM hbase, mixt),
       |sm1 AS (SELECT doc_id, i, kind, col, (x + 11400714819323198485) % $M64::HUGEINT z1 FROM hx),
       |sm2 AS (SELECT doc_id, i, kind, col, ${umul64("xor(z1, z1 // 1073741824)", 0xbf58476d1ce4e5b9L)} z2 FROM sm1),
       |sm3 AS (SELECT doc_id, i, kind, col, ${umul64("xor(z2, z2 // 134217728)", 0x94d049bb133111ebL)} z3 FROM sm2),
       |wv AS (SELECT doc_id, i, kind, col,
       |    ((xor(z3, z3 // 2147483648) // 2048)::DOUBLE / 9007199254740992.0) * 2.0 - 1.0 wt FROM sm3),
       |uac AS (SELECT doc_id, i, col, sum(wt) u FROM wv WHERE kind = 'u' GROUP BY 1, 2, 3),
       |tac AS (SELECT doc_id, i, col, pq.pw + wt tr FROM wv JOIN pseqw pq USING (col) WHERE kind = 't'),
       |p9 AS (SELECT t.doc_id, t.i, t.col, u.u + t.tr pot
       |  FROM tac t JOIN uac u ON u.doc_id = t.doc_id AND u.i = t.i AND u.col = t.col % 3),
       |pots AS MATERIALIZED (SELECT p9.doc_id, p9.i, any_value(hbase.n) n, list(pot ORDER BY col) pot9
       |  FROM p9 JOIN hbase ON hbase.doc_id = p9.doc_id AND hbase.i = p9.i
       |  GROUP BY p9.doc_id, p9.i),
       |${viterbiTailCtes(Seq("O", "LOCATION", "PERSON"))}""".stripMargin
  }

  private val crfViterbiOracleSql: String =
    s"""$crfTagsCtes
       |SELECT doc_id, CAST(i - 1 AS INT) AS pos, w AS token, tag FROM tags""".stripMargin

  /** q42: the span-extraction fold (classifyToCharacterOffsets label-change
    * segmentation, AbstractSequenceClassifier.java:487-512 — consecutive
    * EQUAL non-background labels merge; any label change splits, including
    * between two entity types; entity at end of doc flushes) over the q41
    * tags, with char offsets into the deterministic single-space-joined
    * text (begin = prefix sum of token lengths + gaps — the engine side
    * computes the same offsets and runs the REAL Tagger.spansOfSentence).
    */
  /** Span tail over a `tags(doc_id, i, w, tag)` relation — shared by the
    * hash-CRF (q42-q46) and trained-CRF (q49-q53) oracle chains.
    */
  private val spanTailCtes: String =
    s"""offs AS MATERIALIZED (SELECT doc_id, i, w, tag,
       |    CAST(coalesce(sum(length(w) + 1) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS b
       |  FROM tags),
       |runs AS (SELECT doc_id, i, w, tag, b,
       |    i - row_number() OVER (PARTITION BY doc_id, tag ORDER BY i) AS grp
       |  FROM offs WHERE tag != 'O'),
       |spans AS MATERIALIZED (SELECT doc_id, tag AS etype,
       |    CAST(min(b) AS INT) AS begin_char,
       |    CAST(max(b + length(w)) AS INT) AS end_char,
       |    array_to_string(list(w ORDER BY i), ' ') AS surface
       |  FROM runs GROUP BY doc_id, tag, grp)""".stripMargin

  private val crfSpanCtes: String = s"$crfTagsCtes,\n$spanTailCtes"

  private val crfSpansOracleSql: String =
    s"""$crfSpanCtes
       |SELECT doc_id, etype, begin_char, end_char, surface FROM spans""".stripMargin

  /** q43: TripleRules.fromSentence in SQL over the q42 spans — ADJACENT
    * mention pairs in textual order; the first token strictly between them
    * (token.begin >= a.end AND token.begin < b.begin, scanned left to
    * right) that is a trigger for the (subjType, objType) pair selects the
    * predicate, else CO_OCCURS (kg/TripleRules.scala semantics, embedded
    * trigger table generated from the same Scala map).
    */
  /** Triple tail over `spans` + `offs` — shared by the hash-CRF and
    * trained-CRF oracle chains.
    */
  private[graft] val tripleTailCtes: String = {
    val trigRows = TripleRules.triggers.toSeq.sortBy(_.toString).map {
      case ((w, st, ot), pred) => s"('$w','$st','$ot','$pred')"
    }.mkString(",")
    s"""ordered AS (SELECT doc_id, etype, begin_char, end_char, surface,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY begin_char) rn FROM spans),
       |mpairs AS MATERIALIZED (SELECT a.doc_id, a.rn, a.etype atyp, a.end_char aec, a.surface asur,
       |    b.etype btyp, b.begin_char bbc, b.surface bsur
       |  FROM ordered a JOIN ordered b ON a.doc_id = b.doc_id AND b.rn = a.rn + 1),
       |trig(word, st, ot, pred) AS (VALUES $trigRows),
       |hits AS (SELECT p.doc_id, p.rn, t.pred, o.i
       |  FROM mpairs p
       |  JOIN offs o ON o.doc_id = p.doc_id AND o.b >= p.aec AND o.b < p.bbc
       |  JOIN trig t ON lower(o.w) = t.word AND p.atyp = t.st AND p.btyp = t.ot),
       |firsthit AS (SELECT doc_id, rn, pred FROM (
       |  SELECT doc_id, rn, pred, row_number() OVER (PARTITION BY doc_id, rn ORDER BY i) k
       |  FROM hits) WHERE k = 1),
       |trips AS MATERIALIZED (SELECT p.doc_id, p.asur AS subj, p.atyp AS subj_type,
       |  coalesce(f.pred, 'CO_OCCURS') AS pred, p.bsur AS obj, p.btyp AS obj_type
       |FROM mpairs p LEFT JOIN firsthit f ON f.doc_id = p.doc_id AND f.rn = p.rn)""".stripMargin
  }

  private val crfTripleCtes: String = s"$crfSpanCtes,\n$tripleTailCtes"

  private val crfTriplesOracleSql: String =
    s"""$crfTripleCtes
       |SELECT doc_id, subj, subj_type, pred, obj, obj_type FROM trips""".stripMargin

  /** q44: the FULL EntityLink.link pipeline in SQL over the q42 mention
    * stream — normalize (lowercase + person-title strip), surface_id =
    * fnv(etype + NUL + surface) (the NUL step is one extra prime multiply,
    * xor-with-0 being identity), 3-char-shingle MinHash (32 hashes, the SAME
    * seed-0x5eed universal hashers as the q20 oracle), 8-band/4-row band
    * keys, the 64-surface bucket cap (window count), candidate pairs with
    * SIGNED sid ordering, exact 64-bit-shingle Jaccard >= 0.55 (or equal
    * norms), the q19-style recursive transitive closure with min-id
    * components, and the highest-mention-count (ties: lexicographic)
    * canonical representative.
    */
  private[graft] val linkCtes: String = {
    val P = "2305843009213693951" // 2^61 - 1
    val P61 = "2305843009213693952" // 2^61
    def fnvContSql(h: String, strCol: String): String =
      s"""list_reduce(list_prepend($h, list_transform(string_split($strCol,''), c -> ord(c)::HUGEINT)),
         |  (h, c) -> ${umul64("xor(h, c)", 0x100000001b3L)})""".stripMargin
    val sidExpr = fnvContSql(umul64(s"(${fnvSql("etype")})", 0x100000001b3L), "surface")
    s"""surf AS (SELECT etype, surface, CAST(count(*) AS BIGINT) n_mentions
       |  FROM spans GROUP BY 1, 2),
       |snorm AS (SELECT etype, surface, n_mentions,
       |    CASE WHEN etype = 'PERSON' AND sp > 1 AND list_contains(
       |        ['dr.','mr.','ms.','mrs.','prof.','sen.','miss','sir'], substr(ls, 1, sp - 1))
       |      THEN substr(ls, sp + 1) ELSE ls END AS norm
       |  FROM (SELECT etype, surface, n_mentions, lower(surface) ls,
       |          strpos(lower(surface), ' ') sp FROM surf)),
       |sids AS MATERIALIZED (SELECT etype, surface, n_mentions, norm,
       |    ${toSigned(s"($sidExpr)")} AS sid FROM snorm),
       |shing AS (SELECT sid, etype, norm, unnest(CASE WHEN length(norm) >= 3
       |    THEN list_distinct([norm[i:i+2] FOR i IN range(1, length(norm)-1)])
       |    ELSE [norm] END) sh FROM sids),
       |shd AS MATERIALIZED (SELECT DISTINCT sid, etype, ${fnvSql("sh")} hx FROM shing),
       |$minhashHashersCte,
       |msig AS (SELECT sid, i, min((a * (hx % $P61) % $P + b) % $P) v
       |  FROM shd CROSS JOIN hashers WHERE i < 32 GROUP BY sid, i),
       |mbk AS (SELECT s.sid, s.etype, s.norm, i // 4 band,
       |    list_reduce(list_prepend(xor(14695981039346656037::HUGEINT, (i // 4)::HUGEINT),
       |                             list(v ORDER BY i)),
       |                (h, x) -> ${umul64("xor(h, x)", 0x100000001b3L)}) bkey
       |  FROM msig m JOIN sids s ON s.sid = m.sid GROUP BY s.sid, s.etype, s.norm, i // 4),
       |mbc AS MATERIALIZED (SELECT sid, etype, norm, band, bkey FROM (
       |  SELECT sid, etype, norm, band, bkey,
       |    count(*) OVER (PARTITION BY etype, band, bkey) bsz FROM mbk) WHERE bsz <= 64),
       |mcand AS MATERIALIZED (SELECT DISTINCT a.sid s1, b.sid s2, a.norm n1, b.norm n2
       |  FROM mbc a JOIN mbc b ON a.etype = b.etype AND a.band = b.band
       |    AND a.bkey = b.bkey AND a.sid < b.sid),
       |msz AS (SELECT sid, count(*) sz FROM shd GROUP BY sid),
       |mint AS (SELECT c.s1, c.s2, count(*) iv FROM mcand c
       |  JOIN shd x ON x.sid = c.s1 JOIN shd y ON y.sid = c.s2 AND y.hx = x.hx
       |  GROUP BY c.s1, c.s2),
       |medge AS MATERIALIZED (SELECT c.s1, c.s2 FROM mcand c
       |  JOIN msz za ON za.sid = c.s1 JOIN msz zb ON zb.sid = c.s2
       |  LEFT JOIN mint i ON i.s1 = c.s1 AND i.s2 = c.s2
       |  WHERE c.n1 = c.n2 OR
       |    CAST(coalesce(i.iv, 0) AS DOUBLE) / (za.sz + zb.sz - coalesce(i.iv, 0)) >= 0.55),
       |med2 AS MATERIALIZED (SELECT s1 a, s2 b FROM medge UNION SELECT s2, s1 FROM medge),
       |mwalk(src, node) AS (
       |  SELECT a, a FROM med2
       |  UNION
       |  SELECT w.src, med2.b FROM mwalk w JOIN med2 ON w.node = med2.a),
       |mcomp AS (SELECT src id, min(node) component FROM mwalk GROUP BY 1),
       |massign AS (SELECT s.etype, s.surface, s.sid surface_id, s.n_mentions,
       |    coalesce(c.component, s.sid) entity_id
       |  FROM sids s LEFT JOIN mcomp c ON c.id = s.sid),
       |linkedo AS MATERIALIZED (SELECT etype, surface, surface_id, n_mentions, entity_id,
       |  first_value(surface) OVER (PARTITION BY entity_id
       |    ORDER BY n_mentions DESC, surface ASC) canonical_surface
       |FROM massign)""".stripMargin
  }

  private val crfEntityLinkOracleSql: String =
    s"""$crfSpanCtes,
       |$linkCtes
       |SELECT etype, surface, surface_id, n_mentions, entity_id, canonical_surface FROM linkedo""".stripMargin

  /** q45: graph nodes (the q34 shape — per-entity aggregation with the
    * max-struct canonical pick) over the hash-CRF linking result.
    */
  private val crfGraphNodesOracleSql: String =
    s"""$crfSpanCtes,
       |$linkCtes
       |SELECT entity_id, etype, CAST(sum(n_mentions) AS BIGINT) AS n_mentions,
       |  (max(struct_pack(c := n_mentions, s := canonical_surface))).s AS canonical_surface,
       |  CAST(count(*) AS BIGINT) AS n_surfaces
       |FROM linkedo GROUP BY 1, 2""".stripMargin

  /** q46: graph edges (the q35 shape — triples joined to the surface map on
    * both endpoints, grouped to weighted edges) over the hash-CRF streams.
    */
  private val crfGraphEdgesOracleSql: String =
    s"""$crfTripleCtes,
       |$linkCtes
       |SELECT sm1.entity_id AS subj_id, t.pred, sm2.entity_id AS obj_id,
       |  CAST(count(*) AS BIGINT) AS weight
       |FROM trips t
       |JOIN linkedo sm1 ON sm1.etype = t.subj_type AND sm1.surface = t.subj
       |JOIN linkedo sm2 ON sm2.etype = t.obj_type AND sm2.surface = t.obj
       |GROUP BY 1, 2, 3""".stripMargin

  /** q47: 2-best Viterbi in SQL. The recursion carries 18-entry DP lists
    * (flat index = state*2 + rank, state = prevLabel*3 + curLabel over the
    * last two labels) of scores and label paths. Per step and state, the six
    * candidates (3 prepended classes x 2 prev ranks, in that index order —
    * the engine's candidate insertion order) are ranked by score with
    * FIRST-index tie selection (list_position returns the first occurrence),
    * which equals the engine's stable sortBy(-score); absent engine entries
    * are -infinity fillers that can never outrank a real candidate. Lateral
    * column aliases stage the per-state computations; the recursive member
    * wraps them in a subquery so the UNION ALL arity matches.
    */
  private val crfKbestOracleSql: String = {
    val NI = "'-infinity'::DOUBLE"
    // base (engine pos 0): only states (prev=O, c) carry one real entry
    val baseSc = (0 until 9).flatMap { st =>
      if (st < 3) Seq(s"pot9[${st + 1}]", NI) else Seq(NI, NI)
    }.mkString("[", ", ", "]::DOUBLE[]")
    val basePaths = (0 until 9).flatMap { st =>
      if (st < 3) Seq(s"[$st]", "[]") else Seq("[]", "[]")
    }.mkString("[", ", ", "]::INT[][]")
    // per-state lateral aliases in the recursive member's inner select
    val stateAliases = (0 until 9).flatMap { st =>
      val p1 = st / 3; val c = st % 3
      val cands = for (a <- 0 until 3; r <- 0 until 2)
        yield s"vsc[${(a * 3 + p1) * 2 + r + 1}] + pot9[${p1 * 3 + c + 1}]"
      def pf(idx: String) = s"((((($idx) - 1) // 2) * 3 + $p1) * 2 + ((($idx) - 1) % 2)) + 1"
      Seq(
        s"${cands.mkString("[", ", ", "]")}::DOUBLE[] cst$st",
        s"list_max(cst$st) v1_$st",
        s"list_position(cst$st, v1_$st) i1_$st",
        s"list_max([CASE WHEN j = i1_$st THEN $NI ELSE cst$st[j] END FOR j IN range(1, 7)]) v2_$st",
        s"list_position([CASE WHEN j = i1_$st THEN $NI ELSE cst$st[j] END FOR j IN range(1, 7)], v2_$st) i2_$st",
        s"vpaths[${pf(s"i1_$st")}] || [$c] pth1_$st",
        s"vpaths[${pf(s"i2_$st")}] || [$c] pth2_$st")
    }.mkString(",\n      ")
    val scNew = (0 until 9).flatMap(st => Seq(s"v1_$st", s"v2_$st")).mkString("[", ", ", "]")
    val pathsNew = (0 until 9).flatMap(st => Seq(s"pth1_$st", s"pth2_$st")).mkString("[", ", ", "]")
    s"""$crfTagsCtes,
       |kb AS (
       |  SELECT doc_id, i, n, $baseSc sc, $basePaths paths
       |  FROM pots WHERE i = 1
       |  UNION ALL
       |  SELECT doc_id, i, n, $scNew sc, $pathsNew paths FROM (
       |    SELECT v.doc_id, p.i, p.n, v.sc vsc, v.paths vpaths, p.pot9 pot9,
       |      $stateAliases
       |    FROM kb v JOIN pots p ON p.doc_id = v.doc_id AND p.i = v.i + 1)),
       |kfin AS (SELECT doc_id, sc, paths,
       |    list_max(sc) v1, list_position(sc, list_max(sc)) i1 FROM kb WHERE i = n),
       |ktop AS (SELECT doc_id, paths, i1, v1,
       |    list_max([CASE WHEN j = i1 THEN $NI ELSE sc[j] END FOR j IN range(1, 19)]) v2,
       |    list_position([CASE WHEN j = i1 THEN $NI ELSE sc[j] END FOR j IN range(1, 19)], v2) i2
       |  FROM kfin),
       |kout AS (SELECT doc_id, 1 rnk, paths[i1] path, round(v1, 6) score FROM ktop
       |  UNION ALL SELECT doc_id, 2, paths[i2], round(v2, 6) FROM ktop)
       |SELECT w.doc_id, CAST(k.rnk AS INT) AS rank, CAST(w.i - 1 AS INT) AS pos, w.w AS token,
       |  CASE k.path[w.i] WHEN 0 THEN 'O' WHEN 1 THEN 'LOCATION' ELSE 'PERSON' END AS tag,
       |  k.score
       |FROM wrow w JOIN kout k USING (doc_id)""".stripMargin
  }

  /** q48 oracle: learned-weight CRF inference replayed in one DuckDB
    * statement. The trained model's featureIndex + weight rows are embedded
    * as `CAST('<repr>' AS DOUBLE)` VALUES (bare literals parse as DECIMAL and
    * 1-ulp-drift on round trip — the q47 lesson); the emission side reuses
    * the q41 token/shape CTEs; per-position potentials come from LEFT JOINs
    * of the four emitted feature strings against the weight tables, with
    * misses coalesced to 0 — exactly the engine's unseen-feature drop
    * (CRFClassifier.java:200-207), and bit-exact because adding 0.0 is exact
    * and each factor sums at most two hit weights in the same order the
    * engine's idsAt iteration adds them (WORD then TYPE; PSEQ then TYPES).
    * The Viterbi tail is shared with q41 verbatim.
    */
  private def crfTrainedTagsCtes: String = {
    val m = TrainedCrf.model()
    def esc(s: String) = s.replace("'", "''")
    val names = new Array[String](m.featureIndex.size)
    m.featureIndex.forEach((k, v) => names(v.intValue) = k)
    def rows(group: Int): String = {
      val sb = new StringBuilder
      for (id <- names.indices) {
        val f = names(id)
        val g = f.substring(f.lastIndexOf('|') + 1) match {
          case "C" => 0
          case "CpC" => 1
          case _ => 2
        }
        if (g == group) {
          val w = m.weights(id)
          for (c <- w.indices) {
            if (sb.nonEmpty) sb.append(",")
            sb.append(s"('${esc(f)}',$c,CAST('${w(c)}' AS DOUBLE))")
          }
        }
      }
      sb.toString
    }
    s"""WITH RECURSIVE
       |$tokShapeCtes,
       |w0(f, c, wt) AS (VALUES ${rows(0)}),
       |w1(f, c, wt) AS (VALUES ${rows(1)}),
       |cols3(col) AS (VALUES (0),(1),(2)),
       |cols9(col) AS (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8)),
       |uac AS (SELECT p.doc_id, p.i, c3.col, coalesce(a.wt, 0) + coalesce(b.wt, 0) u
       |  FROM pshp p CROSS JOIN cols3 c3
       |  LEFT JOIN w0 a ON a.f = p.w || '-WORD|C' AND a.c = c3.col
       |  LEFT JOIN w0 b ON b.f = p.s || '-TYPE|C' AND b.c = c3.col),
       |tac AS (SELECT p.doc_id, p.i, c9.col, coalesce(a.wt, 0) + coalesce(b.wt, 0) tr
       |  FROM pshp p CROSS JOIN cols9 c9
       |  LEFT JOIN w1 a ON a.f = 'PSEQ|CpC' AND a.c = c9.col
       |  LEFT JOIN w1 b ON b.f = p.ps || '-' || p.s || '-TYPES|CpC' AND b.c = c9.col),
       |p9 AS (SELECT t.doc_id, t.i, t.col, u.u + t.tr pot
       |  FROM tac t JOIN uac u ON u.doc_id = t.doc_id AND u.i = t.i AND u.col = t.col % 3),
       |pots AS MATERIALIZED (SELECT p9.doc_id, p9.i, any_value(w.n) n, list(pot ORDER BY col) pot9
       |  FROM p9 JOIN wrow w ON w.doc_id = p9.doc_id AND w.i = p9.i
       |  GROUP BY p9.doc_id, p9.i),
       |${viterbiTailCtes(Seq("O", "LOCATION", "PERSON"))}""".stripMargin
  }

  private def crfTrainedOracleSql: String =
    s"""$crfTrainedTagsCtes
       |SELECT doc_id, CAST(i - 1 AS INT) AS pos, w AS token, tag FROM tags""".stripMargin

  // q49-q53: the ENTIRE KG pipeline over the TRAINED model — the same span /
  // triple / link / rollup CTE tails the hash-CRF oracles certify, stacked on
  // the learned-weight potentials, so every stage of
  // text -> tags -> spans -> triples -> linked entities -> graph has BOTH a
  // hash-weight and a trained-weight hash-exact certificate.
  private def crfTrainedSpansOracleSql: String =
    s"""$crfTrainedTagsCtes,
       |$spanTailCtes
       |SELECT doc_id, etype, begin_char, end_char, surface FROM spans""".stripMargin

  private def crfTrainedTriplesOracleSql: String =
    s"""$crfTrainedTagsCtes,
       |$spanTailCtes,
       |$tripleTailCtes
       |SELECT doc_id, subj, subj_type, pred, obj, obj_type FROM trips""".stripMargin

  private def crfTrainedLinkOracleSql: String =
    s"""$crfTrainedTagsCtes,
       |$spanTailCtes,
       |$linkCtes
       |SELECT etype, surface, surface_id, n_mentions, entity_id, canonical_surface FROM linkedo""".stripMargin

  private def crfTrainedNodesOracleSql: String =
    s"""$crfTrainedTagsCtes,
       |$spanTailCtes,
       |$linkCtes
       |SELECT entity_id, etype, CAST(sum(n_mentions) AS BIGINT) AS n_mentions,
       |  (max(struct_pack(c := n_mentions, s := canonical_surface))).s AS canonical_surface,
       |  CAST(count(*) AS BIGINT) AS n_surfaces
       |FROM linkedo GROUP BY 1, 2""".stripMargin

  private def crfTrainedEdgesOracleSql: String =
    s"""$crfTrainedTagsCtes,
       |$spanTailCtes,
       |$tripleTailCtes,
       |$linkCtes
       |SELECT sm1.entity_id AS subj_id, t.pred, sm2.entity_id AS obj_id,
       |  CAST(count(*) AS BIGINT) AS weight
       |FROM trips t
       |JOIN linkedo sm1 ON sm1.etype = t.subj_type AND sm1.surface = t.subj
       |JOIN linkedo sm2 ON sm2.etype = t.obj_type AND sm2.surface = t.obj
       |GROUP BY 1, 2, 3""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q41_crf_viterbi" -> crfViterbiOracleSql,
    "q48_crf_trained" -> crfTrainedOracleSql,
    "q56_trained_transcripts_tags" -> TranscriptsOracle.tagsSql(TrainedTranscriptsCrf.model()),
    "q57_trained_transcripts_spans" -> TranscriptsOracle.spansSql(TrainedTranscriptsCrf.model()),
    "q58_trained_transcripts_triples" -> TranscriptsOracle.triplesSql(TrainedTranscriptsCrf.model()),
    "q59_trained_transcripts_link" -> TranscriptsOracle.linkSql(TrainedTranscriptsCrf.model()),
    "q62_default_model_tags" -> DefaultModelOracle.tagsSql(graft.ner.NerModel.load(NerModels.defaultPath)),
    "q63_default_model_triples" -> DefaultModelOracle.triplesSql(graft.ner.NerModel.load(NerModels.defaultPath)),
    "q64_default_model_link" -> DefaultModelOracle.linkSql(graft.ner.NerModel.load(NerModels.defaultPath)),
    "q60_trained_transcripts_nodes" -> TranscriptsOracle.nodesSql(TrainedTranscriptsCrf.model()),
    "q61_trained_transcripts_edges" -> TranscriptsOracle.edgesSql(TrainedTranscriptsCrf.model()),
    "q49_crf_trained_spans" -> crfTrainedSpansOracleSql,
    "q50_crf_trained_triples" -> crfTrainedTriplesOracleSql,
    "q51_trained_entity_link" -> crfTrainedLinkOracleSql,
    "q52_trained_graph_nodes" -> crfTrainedNodesOracleSql,
    "q53_trained_graph_edges" -> crfTrainedEdgesOracleSql,
    "q47_crf_kbest" -> crfKbestOracleSql,
    "q42_crf_spans" -> crfSpansOracleSql,
    "q43_crf_triples" -> crfTriplesOracleSql,
    "q44_entity_link" -> crfEntityLinkOracleSql,
    "q45_graph_nodes" -> crfGraphNodesOracleSql,
    "q46_graph_edges" -> crfGraphEdgesOracleSql,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
        | max(l_extendedprice) AS max_price, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q02_revenue_by_nation" ->
      """SELECT r_name, n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY revenue DESC, n_name""".stripMargin,
    "q03_top_orders_per_customer" ->
      """SELECT o_custkey, CAST(rank AS INT) AS rank, o_orderkey, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
        | FROM orders) WHERE rank <= 3""".stripMargin,
    "q04_running_supplier_revenue" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | round(sum(l_extendedprice) OVER (PARTITION BY l_suppkey
        |   ORDER BY l_shipdate, l_orderkey, l_linenumber
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_revenue
        |FROM lineitem""".stripMargin,
    "q05_customer_activity" ->
      """SELECT c_mktsegment,
        | CAST(sum(CASE WHEN has_order THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
        | CAST(sum(CASE WHEN has_order THEN 0 ELSE 1 END) AS BIGINT) AS n_inactive
        |FROM (SELECT c_mktsegment,
        |  EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_order FROM customer)
        |GROUP BY 1""".stripMargin,
    "q06_rollup_status" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        | coalesce(l_linestatus, 'ALL') AS linestatus,
        | CAST(count(*) AS BIGINT) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q07_setops_custkeys" ->
      """SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""".stripMargin,
    "q08_sessionize_events" ->
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
        | CAST(count(*) AS BIGINT) AS n_events
        |FROM (SELECT user_id,
        |  CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_session
        | FROM (SELECT user_id, ts,
        |   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events))
        |GROUP BY 1""".stripMargin,
    "q09_json_props" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(k) AS BIGINT) AS sum_k, CAST(min(k) AS BIGINT) AS min_k,
        | CAST(max(k) AS BIGINT) AS max_k
        |FROM (SELECT event_type, CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS k FROM events)
        |GROUP BY 1""".stripMargin,
    "q10_daily_events" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        | CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q11_tokens" ->
      s"""SELECT doc_id, unnest(regexp_extract_all(lower(text), '$TokSql')) AS token FROM documents""",
    "q12_token_stats" ->
      s"""SELECT doc_id,
         | CAST(len(tk) AS INT) AS n_tokens,
         | CAST(len(list_filter(tk, x -> regexp_full_match(x, '[a-z]+'))) AS INT) AS n_alpha,
         | CAST(length(text) AS INT) AS n_chars,
         | CAST(coalesce(list_sum(list_transform(tk, x -> length(x))), 0) AS BIGINT) AS sum_token_len
         |FROM (SELECT doc_id, text, regexp_extract_all(lower(text), '$TokSql') tk FROM documents)""".stripMargin,
    "q13_quality" ->
      s"""SELECT doc_id, CAST(len(tk) AS INT) AS n_tokens,
         | round(n_stop / greatest(n_tok, 1.0), 4) AS stopword_ratio,
         | round(n_punct / greatest(n_tok, 1.0), 4) AS punct_ratio,
         | round(greatest(0.0, least(n_tok / 50.0, 1.0) * (1.0 - n_punct / greatest(n_tok, 1.0))
         |   * (0.5 + least(n_stop / greatest(n_tok, 1.0) * 2.5, 0.5))), 4) AS quality
         |FROM (SELECT doc_id, tk, CAST(len(tk) AS DOUBLE) n_tok,
         |  CAST(len(list_filter(tk, x -> list_contains(['the','a','an','of','and','or','to','in','is','it','on','for','with','as','at','by','this','that'], x))) AS DOUBLE) n_stop,
         |  CAST(len(list_filter(tk, x -> regexp_full_match(x, '[^a-z0-9]'))) AS DOUBLE) n_punct
         | FROM (SELECT doc_id, regexp_extract_all(lower(text), '$TokSql') tk FROM documents))""".stripMargin,
    "q14_lang_id" ->
      s"""SELECT doc_id, hits_de, hits_en, hits_es, hits_fr,
         | CASE WHEN hits_de = mx AND mx > 0 THEN 'de'
         |      WHEN hits_en = mx AND mx > 0 THEN 'en'
         |      WHEN hits_es = mx AND mx > 0 THEN 'es'
         |      WHEN hits_fr = mx AND mx > 0 THEN 'fr'
         |      ELSE 'und' END AS pred_lang
         |FROM (SELECT doc_id, hits_de, hits_en, hits_es, hits_fr,
         |  greatest(hits_de, hits_en, hits_es, hits_fr) AS mx FROM (
         |  SELECT doc_id,
         |   CAST(len(list_filter(tk, x -> list_contains(['der','die','und','das','ist','nicht','ein','mit','auf','zu'], x))) AS INT) AS hits_de,
         |   CAST(len(list_filter(tk, x -> list_contains(['the','and','of','to','in','is','you','that','it','for'], x))) AS INT) AS hits_en,
         |   CAST(len(list_filter(tk, x -> list_contains(['el','la','de','que','y','los','se','un','por','con'], x))) AS INT) AS hits_es,
         |   CAST(len(list_filter(tk, x -> list_contains(['le','la','les','et','des','est','un','une','dans','pour'], x))) AS INT) AS hits_fr
         |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '$TokSql') tk FROM documents)))""".stripMargin,
    "q15_dict_tag" ->
      s"""WITH gazette(word, tag) AS (VALUES ('join','OP'),('merge','OP'),('filter','OP'),
         |  ('scan','OP'),('spark','SYS'),('customer','ENT'),('table','ENT'))
         |SELECT doc_id, word, tag
         |FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '$TokSql')) AS word FROM documents)
         |JOIN gazette USING (word)""".stripMargin,
    "q16_dedup_exact" ->
      """SELECT doc_id, md5(lower(text)) AS dup_key,
        | min(doc_id) OVER (PARTITION BY md5(lower(text))) AS keep_doc_id,
        | count(*) OVER (PARTITION BY md5(lower(text))) AS group_size,
        | doc_id = min(doc_id) OVER (PARTITION BY md5(lower(text))) AS keep
        |FROM documents""".stripMargin,
    "q17_dedup_prefix" ->
      s"""SELECT doc_id, dup_key, keep_doc_id, group_size FROM (
         | SELECT doc_id, dup_key,
         |  min(doc_id) OVER (PARTITION BY dup_key) AS keep_doc_id,
         |  count(*) OVER (PARTITION BY dup_key) AS group_size
         | FROM (SELECT doc_id,
         |   md5(array_to_string(list_slice(regexp_extract_all(lower(text), '$TokSql'), 1, 2), ' ')) AS dup_key
         |  FROM documents))
         |WHERE group_size > 1""".stripMargin,
    "q18_jaccard_pairs" ->
      s"""WITH $shinglesCte
         |SELECT doc_id_1, doc_id_2, jaccard FROM pairs""".stripMargin,
    "q19_dup_components" ->
      s"""WITH RECURSIVE $shinglesCte,
         |ed AS (SELECT doc_id_1 a, doc_id_2 b FROM pairs UNION SELECT doc_id_2, doc_id_1 FROM pairs),
         |walk(src, node) AS (
         |  SELECT a, a FROM ed
         |  UNION
         |  SELECT w.src, ed.b FROM walk w JOIN ed ON w.node = ed.a)
         |SELECT src AS id, min(node) AS component FROM walk GROUP BY 1""".stripMargin,
    // Full MinHash-LSH pipeline reproduced independently in SQL: shingle ->
    // fnv -> 64 universal-hash minima (mod 2^61-1) -> 16 banded FNV keys ->
    // bucket join -> exact-jaccard verify. A hash-green row here certifies
    // the whole sketch path (signatures, banding, candidate join), not just
    // the verify stage.
    "q20_dedup_minhash" ->
      s"""WITH $minhashHashersCte,
         |${wordShinglesCtes(3)},
         |shx AS (SELECT doc_id, ${fnvSql("s")} % 2305843009213693952 xm
         |  FROM (SELECT doc_id, unnest(shingles) s FROM sh)),
         |sig AS (SELECT doc_id, i, min((a * xm % 2305843009213693951 + b) % 2305843009213693951) v
         |  FROM shx CROSS JOIN hashers GROUP BY doc_id, i),
         |bk AS (SELECT doc_id, i // 4 band,
         |    list_reduce(list_prepend(xor(14695981039346656037::HUGEINT, (i // 4)::HUGEINT),
         |                             list(v ORDER BY i)),
         |                (h, s) -> ${umul64("xor(h, s)", 0x100000001b3L)}) bkey
         |  FROM sig GROUP BY doc_id, i // 4),
         |cand AS (SELECT DISTINCT a.doc_id d1, b.doc_id d2 FROM bk a JOIN bk b
         |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |jac AS (SELECT d1 doc_id_1, d2 doc_id_2,
         |    round(len(list_intersect(x.shingles, y.shingles)) * 1.0 /
         |          (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))), 4) jaccard
         |  FROM cand JOIN sh x ON d1 = x.doc_id JOIN sh y ON d2 = y.doc_id)
         |SELECT doc_id_1, doc_id_2, jaccard FROM jac WHERE jaccard >= 0.5""".stripMargin,
    // SimHash reproduced in SQL (fnv -> splitmix64 -> bit votes), 16-bit
    // chunk-key candidate join, exact Hamming verify.
    "q21_dedup_simhash" ->
      s"""WITH ${simhashCtes(2)},
         |chunks(c, dv) AS (VALUES ${(0 until 4).map(c => s"($c,${java.lang.Long.toUnsignedString(1L << (16 * c))}::HUGEINT)").mkString(",")}),
         |keyed AS (SELECT doc_id, sim, c, (sim // dv) % 65536 ck FROM sim CROSS JOIN chunks),
         |cand AS (SELECT DISTINCT a.doc_id d1, b.doc_id d2, a.sim s1, b.sim s2
         |  FROM keyed a JOIN keyed b ON a.c = b.c AND a.ck = b.ck AND a.doc_id < b.doc_id),
         |ham AS (SELECT d1 doc_id_1, d2 doc_id_2,
         |    bit_count(xor(${toSigned("s1")}, ${toSigned("s2")})) hamming FROM cand)
         |SELECT doc_id_1, doc_id_2, CAST(hamming AS INT) AS hamming FROM ham WHERE hamming <= 8""".stripMargin,
    // The multimodal generator's metadata formulas reproduced in SQL:
    // seed = fnv1a64(text) XOR doc_id, then splitmix64 (staged unsigned
    // arithmetic, lane `a` = the dims/sample-count seed per media branch,
    // lane `b` = the video frame-count seed). The Spark side decodes the
    // REAL encoded payloads, so hash-green certifies the encode->decode
    // round trip of every dimension/frame/sample count.
    "q54_multimodal_meta" ->
      s"""WITH f AS (SELECT doc_id, xor(${fnvSql("text")}, doc_id::HUGEINT) seed FROM documents),
         |inp AS (SELECT doc_id,
         |    CASE doc_id % 3 WHEN 0 THEN seed WHEN 1 THEN xor(seed, ${0xa0d10L})
         |      ELSE xor(seed, ${0x8000000L}) END px,
         |    xor(seed, ${0x71de0L}) vf FROM f),
         |z1 AS (SELECT doc_id, (px + 11400714819323198485) % $M64::HUGEINT a,
         |    (vf + 11400714819323198485) % $M64::HUGEINT b FROM inp),
         |z2 AS (SELECT doc_id, ${umul64("xor(a, a // 1073741824)", 0xbf58476d1ce4e5b9L)} a,
         |    ${umul64("xor(b, b // 1073741824)", 0xbf58476d1ce4e5b9L)} b FROM z1),
         |z3 AS (SELECT doc_id, ${umul64("xor(a, a // 134217728)", 0x94d049bb133111ebL)} a,
         |    ${umul64("xor(b, b // 134217728)", 0x94d049bb133111ebL)} b FROM z2),
         |hs AS (SELECT doc_id, xor(a, a // 2147483648) a, xor(b, b // 2147483648) b FROM z3)
         |SELECT doc_id,
         |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         |  CAST(CASE WHEN doc_id % 3 = 1 THEN 8000 ELSE 8 + (a // 256) % 17 END AS INT) AS width,
         |  CAST(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 8 + (a // 65536) % 13 END AS INT) AS height,
         |  CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 64 + (a // 256) % 441
         |    ELSE 2 + abs(${toSigned("b")} % 5) END AS INT) AS n_frames
         |FROM hs""".stripMargin,
    // Rolling base-31 fingerprint + simhash, both mod-2^64 in SQL.
    "q37_fingerprints" ->
      s"""WITH ${simhashCtes(3)},
         |fp AS (SELECT doc_id, list_reduce(
         |    list_prepend(0::HUGEINT, list_transform(string_split(text,''), c -> ord(c)::HUGEINT)),
         |    (h, c) -> (h * 31 + c) % $M64::HUGEINT) f
         |  FROM documents)
         |SELECT doc_id, ${toSigned("f")} AS fingerprint, ${toSigned("sim")} AS simhash
         |FROM fp JOIN sim USING (doc_id)""".stripMargin,
    "q22_knn_brute" ->
      """SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, sim FROM (
        | SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |  round(list_dot_product(q.de, e.de) / (sqrt(list_dot_product(q.de, q.de)) * sqrt(list_dot_product(e.de, e.de))), 6) AS sim,
        |  row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |    round(list_dot_product(q.de, e.de) / (sqrt(list_dot_product(q.de, q.de)) * sqrt(list_dot_product(e.de, e.de))), 6) DESC,
        |    e.vec_id) AS rank
        | FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) de FROM embeddings WHERE vec_id % 50 = 0) q
        | JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) de FROM embeddings) e ON e.vec_id != q.vec_id)
        |WHERE rank <= 5""".stripMargin,
    // Full multi-table RHP-LSH ANN reproduced in SQL: embedded hyperplane
    // constants -> sign-bit signatures -> per-table bucket join -> exact
    // cosine rerank. Hash-green here certifies signatures, bucketing AND the
    // rerank, not just row counts.
    "q23_knn_lsh" ->
      s"""WITH $rhpHyperCte,
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) de FROM embeddings),
         |sigs AS (SELECT vec_id, t, sum(CASE WHEN list_dot_product(de, w) > 0 THEN (1 << b) ELSE 0 END) sig
         |  FROM e CROSS JOIN hyper GROUP BY vec_id, t),
         |q AS (SELECT vec_id qid, t, sig FROM sigs WHERE vec_id % 50 = 0),
         |cand AS (SELECT DISTINCT s.vec_id vid, q.qid FROM sigs s
         |  JOIN q ON s.t = q.t AND s.sig = q.sig AND s.vec_id != q.qid),
         |scored AS (SELECT qid query_id, vid neighbor_id,
         |    round(list_dot_product(a.de, b.de) / (sqrt(list_dot_product(a.de, a.de)) * sqrt(list_dot_product(b.de, b.de))), 6) sim
         |  FROM cand JOIN e a ON qid = a.vec_id JOIN e b ON vid = b.vec_id),
         |ranked AS (SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) rank FROM scored)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, sim FROM ranked WHERE rank <= 5""".stripMargin,
    "q26_knn_ivf" -> ivfOracleSql,
    "q24_embed_pairs" ->
      """SELECT vec_id_1, vec_id_2, sim FROM (
        | SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
        |  round(list_dot_product(a.de, b.de) / (sqrt(list_dot_product(a.de, a.de)) * sqrt(list_dot_product(b.de, b.de))), 6) AS sim
        | FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) de FROM embeddings) a
        | JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) de FROM embeddings) b ON a.vec_id < b.vec_id)
        |WHERE sim >= 0.4""".stripMargin,
    "q25_windowed_events" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start, event_type,
        | CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // dan2 word shape reproduced in SQL: per-char class map (d/x/X/self),
    // run-collapse via index-aware list_filter (NOT list_reduce: DuckDB
    // 1.0.0's list_reduce with a growing-VARCHAR accumulator returns a
    // NEIGHBOR row's reduction when adjacent rows carry different list
    // lengths — see TranscriptsOracle; HUGEINT-accumulator folds are
    // unaffected), the reference's leading-'~' quirk
    // (WordShapeClassifier.java:236 inits lastM='~', so a leading '~' run is
    // silently dropped), and the :len suffix for short words.
    "q38_shape_histogram" ->
      s"""WITH toks AS (SELECT unnest(regexp_extract_all(lower(text), '$TokSql')) tok FROM documents),
         |clsd AS (SELECT tok, list_transform(string_split(tok, ''), c ->
         |        CASE WHEN c BETWEEN '0' AND '9' THEN 'd'
         |             WHEN (c BETWEEN 'a' AND 'z') OR c = '_' THEN 'x'
         |             WHEN c BETWEEN 'A' AND 'Z' THEN 'X'
         |             ELSE c END) AS cls FROM toks),
         |shapes AS (SELECT 'WT-' ||
         |    regexp_replace(array_to_string(
         |      list_filter(cls, (c, j) -> j = 1 OR c != cls[j-1]), ''), '^~', '') ||
         |    CASE WHEN length(tok) <= 3 THEN ':' || length(tok) ELSE '' END AS shape
         |  FROM clsd)
         |SELECT shape, CAST(count(*) AS BIGINT) AS n FROM shapes GROUP BY 1 ORDER BY n DESC, shape""".stripMargin,
    // record iterators: the synthesized corpus is documents in doc_id order,
    // so a correct file round trip reproduces the table exactly
    "q39_delimited_records" ->
      """SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1 AS INT) AS record_idx,
        | text AS record FROM documents""".stripMargin,
    "q40_xml_records" ->
      """SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1 AS INT) AS record_idx,
        | text AS record FROM documents""".stripMargin
  )
}

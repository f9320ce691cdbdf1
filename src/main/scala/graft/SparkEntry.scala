package graft

import graft.kg.{ConnectedComponents, Corpus, KgPipeline}
import graft.ner.{NerModel, NerModels, Tagger}
import graft.ops.{Dedup, Hashing, Multimodal, Similarity, TextAnalysis}
import graft.pipeline.Transcripts
import graft.streaming.StreamingIngest
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
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

  type Query = (SparkSession, String) => DataFrame

  def queries: Map[String, Query] = Map[String, Query](
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

    // ===== NER / KG pipeline: q30 here; q31-q35, q41-q46, q48-q53 and
    // q56-q64 are stages of the KgQueries table (see `kgQueries`) =====
    "q30_ner_tags" -> ((s, d) => Tagger.tagTurns(turns(s, d), NerModels.default(s)).toDF()),

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
      val bc = s.sparkContext.broadcast(hashCrfModel(docs, windowSize = 2))
      docs.filter(_._2.length >= 2).flatMap { case (id, tk) =>
        graft.ner.SearchGraph.attLattice(bc.value, tk.toIndexedSeq)
          .iterator.zipWithIndex.map { case (line, ln) => (id, ln, line) }
      }.toDF("doc_id", "ln", "line").orderBy("doc_id", "ln")
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
  ) ++ kgQueries

  /** The KG queries, one stage of one family's chain each (KgQueries). */
  private def kgQueries: Map[String, Query] =
    KgQueries.table.map { case (name, family, stage) =>
      name -> ((s, d) => {
        val src = source(family, s, d)
        KgPipeline.compose(src._1, src._2, stage)
      }): (String, Query)
    }.toMap

  /** A KG family's corpus and broadcast model over the tables in `d`. */
  private def source(family: KgQueries.Family, s: SparkSession, d: String): (Corpus[_], Broadcast[NerModel]) =
    family match {
      case KgQueries.Production | KgQueries.DefaultTurns => (Corpus.turns(turns(s, d)), NerModels.default(s))
      case KgQueries.TrainedTurns => (Corpus.turns(turns(s, d)), TrainedTranscriptsCrf.model.broadcast(s))
      case KgQueries.HashDocs =>
        val (docs, model) = hashCrfOver(s, d)
        (Corpus.docs(docs), model)
      case KgQueries.TrainedDocs => (Corpus.docs(tokDocs(s, d)), TrainedCrf.model.broadcast(s))
    }

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
  private var hashCrfMemo: ((SparkSession, String), (Dataset[(Long, Seq[String])], Broadcast[NerModel])) = null

  private def hashCrfOver(s: SparkSession, d: String): (Dataset[(Long, Seq[String])], Broadcast[NerModel]) =
    synchronized {
      val key = (s, d)
      if (hashCrfMemo == null || hashCrfMemo._1 != key) {
        if (hashCrfMemo != null) {
          try hashCrfMemo._2._2.destroy() catch { case _: Throwable => () }
        }
        val docs = tokDocs(s, d)
        hashCrfMemo = (key, (docs, s.sparkContext.broadcast(hashCrfModel(docs))))
      }
      hashCrfMemo._2
    }

  /** Tokenized documents table (the shared tag-corpus shape of q41-q53).
    * r6: Par.fan first — the downstream per-doc CRF decode otherwise runs in
    * ONE task (single parquet split); graft_tokens = the native scanner,
    * output-identical to `toks` (ExpressionsSpec).
    */
  private def tokDocs(s: SparkSession, d: String): Dataset[(Long, Seq[String])] = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    graft.ops.Par.fan(t(s, d, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"), graft.functions.GraftFunctions.graft_tokens(col("text")).as("tk"))
      .as[(Long, Seq[String])]
  }

  /** 3-class (O/LOC/PER), windowSize-3, full-product-layout CRF whose
    * dictionary holds exactly: `w-WORD|C` per distinct (fixed) word,
    * `s-TYPE|C` per distinct dan2 shape, `PSEQ|CpC`, and `ps-cs-TYPES|CpC`
    * per observed adjacent shape pair ("" = boundary, getString semantics).
    * All other features the engine emits hash-miss and drop — the
    * reference's own unseen-feature rule (CRFClassifier.java:200-207).
    */
  private def hashCrfModel(docs: Dataset[(Long, Seq[String])], windowSize: Int = 3): NerModel = {
    import docs.sparkSession.implicits._
    val words = docs.flatMap(_._2).distinct().collect().sorted
    val shapes = words.map(w => graft.text.WordShape.dan2NoLC(w)).distinct.sorted
    val pairs = docs.flatMap { case (_, tk) =>
      tk.indices.iterator.map { i =>
        val p = if (i == 0) "" else graft.text.WordShape.dan2NoLC(tk(i - 1))
        (p, graft.text.WordShape.dan2NoLC(tk(i)))
      }
    }.distinct().collect().sorted
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

  /** The DuckDB oracle of every SQL-expressible query, keyed by query name. */
  def oracleSql: Map[String, String] = graft.oracle.Oracles.sql
}

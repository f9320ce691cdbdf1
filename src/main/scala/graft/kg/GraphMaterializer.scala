package graft.kg

import graft.io.NioLocalFileSystem
import graft.pipeline.Triple
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Materializes the knowledge graph as partitioned node/edge tables with
  * PER-PARTITION lineage + counters for exact resume (north rule). In
  * production the sinks are Iceberg tables (`partitionedBy(etype,
  * bucket(n, entity_id))`); the sandbox writes the same layout as parquet
  * with an explicit bucket column (no Iceberg runtime jar ships here).
  *
  * Resume contract: each stage writes `_lineage/<stage>.json` containing the
  * input fingerprint and the ROW COUNT OF EVERY PARTITION after its table
  * write succeeds. Re-running with the same fingerprint:
  *   - all recorded partitions present on disk -> stage skipped entirely;
  *   - some partitions missing/damaged (killed mid-write, manual deletion)
  *     -> ONLY those partitions are recomputed and rewritten (dynamic
  *     partition overwrite), untouched partitions keep their files byte for
  *     byte. A different fingerprint always rewrites the whole stage.
  * The recorded counts double as the per-partition counters the lineage
  * table exposes for monitoring.
  */
object GraphMaterializer {

  object Lineage {
    def path(outDir: String, stage: String) = Paths.get(outDir, "_lineage", s"$stage.json")

    def record(outDir: String, stage: String, fingerprint: String,
        partCounts: Map[String, Long]): Unit = {
      val p = path(outDir, stage)
      Files.createDirectories(p.getParent)
      val parts = partCounts.toSeq.sorted
        .map { case (k, v) => s""""${k}":$v""" }.mkString("{", ",", "}")
      Files.writeString(p,
        s"""{"stage":"$stage","fingerprint":"$fingerprint","rows":${partCounts.values.sum},"partitions":$parts,"ts":${System.currentTimeMillis()}}""")
    }

    /** (fingerprint, partition dir -> row count), if a record exists. */
    def read(outDir: String, stage: String): Option[(String, Map[String, Long])] = {
      val p = path(outDir, stage)
      if (!Files.exists(p)) return None
      val s = Files.readString(p)
      val fp = "\"fingerprint\":\"([^\"]*)\"".r.findFirstMatchIn(s).map(_.group(1))
      val parts = "\"partitions\":\\{([^}]*)\\}".r.findFirstMatchIn(s).map(_.group(1)) match {
        case Some(body) if body.nonEmpty =>
          body.split(",").map { kv =>
            val Array(k, v) = kv.split(":", 2)
            k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toLong
          }.toMap
        case _ => Map.empty[String, Long]
      }
      fp.map(f => (f, parts))
    }

    def shouldRun(outDir: String, stage: String, fingerprint: String): Boolean =
      !read(outDir, stage).exists(_._1 == fingerprint)
  }

  private val NodeBuckets = 16
  private val EdgeBuckets = 16
  // Above this many surface rows the surface->entity map no longer gets a
  // broadcast hint: a blind broadcast of an unbounded vocabulary OOMs the
  // driver/executors at 100TB scale; past the cap the joins fall back to
  // shuffle joins with AQE (the triple stream shuffles — unavoidable once
  // the map exceeds executor memory).
  private val MaxBroadcastSurfaces = 5000000L

  /** Per-entity node rollup of a linking result: total mentions, the
    * canonical surface of the highest-count member (max-struct pick) and the
    * number of member surfaces.
    * Output: (entity_id, etype, n_mentions, canonical_surface, n_surfaces).
    */
  def rollupNodes(linked: DataFrame): DataFrame = {
    import linked.sparkSession.implicits._
    linked.groupBy($"entity_id", $"etype")
      .agg(
        sum($"n_mentions").as("n_mentions"),
        max(struct($"n_mentions".as("c"), $"canonical_surface".as("s"))).getField("s").as("canonical_surface"),
        count(lit(1)).as("n_surfaces"))
  }

  /** Triples joined on both endpoints to the surface->entity map of a
    * linking result: adds subj_id, subj_canonical, obj_id and obj_canonical.
    * The map gets a broadcast hint up to MaxBroadcastSurfaces rows, so the
    * triple stream itself is not shuffled. `linked` should be pinned
    * (localCheckpoint) before calling, or the size count re-runs its whole
    * lineage.
    */
  def joinEndpoints(triples: DataFrame, linked: DataFrame): DataFrame = {
    import linked.sparkSession.implicits._
    val sel = linked.select($"etype", $"surface", $"entity_id", $"canonical_surface")
    val surfMap = if (linked.count() <= MaxBroadcastSurfaces) broadcast(sel) else sel
    def side(end: String) = surfMap.select($"etype".as(s"${end}_type"), $"surface".as(end),
      $"entity_id".as(s"${end}_id"), $"canonical_surface".as(s"${end}_canonical"))
    triples.join(side("subj"), Seq("subj_type", "subj")).join(side("obj"), Seq("obj_type", "obj"))
  }

  /** Edge rollup of triples over a linking result: `joinEndpoints`, then one
    * row per (subj_id, pred, obj_id) with the triple count as `weight`,
    * followed by the `more` aggregates. `linked` should be pinned, as for
    * `joinEndpoints`.
    */
  def rollupEdges(triples: DataFrame, linked: DataFrame, more: Column*): DataFrame =
    joinEndpoints(triples, linked)
      .groupBy(col("subj_id"), col("pred"), col("obj_id"))
      .agg(count(lit(1)).as("weight"), more: _*)

  /** Sink abstraction for the graph tables: write `df` partitioned by
    * `partCols` under `stage`'s table location, with per-partition lineage
    * keyed by `fingerprint`; return the per-partition row counts written (or
    * previously recorded, on exact resume). `ParquetBucketSink` is the one
    * implementation; GraphSpec asserts the bucket-layout contract through
    * this trait.
    */
  trait GraphSink {
    def write(df: DataFrame, tableDir: String, partCols: Seq[String],
        outDir: String, stage: String, fingerprint: String): Map[String, Long]
  }

  /** A partition is complete when its directory holds at least one parquet
    * part file (a killed executor leaves the dir absent or empty).
    */
  private def partitionComplete(tableDir: String, partPath: String): Boolean = {
    val d = new java.io.File(s"$tableDir/$partPath")
    d.isDirectory && d.listFiles() != null &&
      d.listFiles().exists(f => f.getName.endsWith(".parquet") && f.length() > 0)
  }

  /** Parquet sink with the explicit bucket column and per-partition lineage +
    * selective damaged-partition repair (the sandbox's Iceberg stand-in).
    */
  object ParquetBucketSink extends GraphSink {
    def write(df: DataFrame, tableDir: String, partCols: Seq[String],
        outDir: String, stage: String, fingerprint: String): Map[String, Long] =
      writeWithLineage(df, tableDir, partCols, outDir, stage, fingerprint)
  }

  /** Write `df` partitioned by `partCols` with per-partition lineage.
    * Returns the per-partition counts written (or previously recorded).
    * Both writes use `NioLocalFileSystem.WriteOptions`: without the native
    * Hadoop library, every file and directory of a local write would cost a
    * `chmod` fork.
    */
  private def writeWithLineage(df: DataFrame, tableDir: String, partCols: Seq[String],
      outDir: String, stage: String, fingerprint: String): Map[String, Long] = {
    val partPath = concat_ws("/",
      partCols.map(c => concat(lit(s"$c="), col(c).cast("string"))): _*)
    Lineage.read(outDir, stage) match {
      case Some((fp, recorded)) if fp == fingerprint && recorded.nonEmpty =>
        val missing = recorded.keySet.filterNot(partitionComplete(tableDir, _))
        if (missing.isEmpty) return recorded // exact resume: nothing to do
        // selective repair: recompute ONLY the damaged partitions; dynamic
        // overwrite replaces just the partitions present in the written data
        df.where(partPath.isin(missing.toSeq: _*))
          .write.mode(SaveMode.Overwrite).options(NioLocalFileSystem.WriteOptions)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partCols: _*)
          .parquet(tableDir)
        recorded
      case _ =>
        // single pass (round-2 review finding: a second groupBy().count()
        // re-ran the whole stage): the total row counter rides the write
        // itself via observe() (the listener-API metric the north rule
        // names), and the per-partition map is read back from the WRITTEN
        // table — partition values come from directory names and the count
        // from parquet metadata, so no stage recompute and no data columns.
        val obs = org.apache.spark.sql.Observation(s"lineage-$stage-${System.nanoTime()}")
        df.observe(obs, count(lit(1)).as("rows"))
          .write.mode(SaveMode.Overwrite).options(NioLocalFileSystem.WriteOptions)
          .partitionBy(partCols: _*)
          .parquet(tableDir)
        val written = obs.get.apply("rows").asInstanceOf[Long]
        val counts = if (written == 0L) Map.empty[String, Long]
        else df.sparkSession.read.parquet(tableDir)
          .groupBy(partCols.map(col): _*).count()
          .collect()
          .map(r => partCols.indices.map(i => s"${partCols(i)}=${r.get(i)}").mkString("/") ->
            r.getLong(partCols.length))
          .toMap
        require(counts.values.sum == written,
          s"lineage count mismatch for $stage: observed $written, footers ${counts.values.sum}")
        Lineage.record(outDir, stage, fingerprint, counts)
        counts
    }
  }

  /** Write nodes + edges; returns (nodes, edges) DataFrames (also persisted).
    *
    * @param linked output of EntityLink.link
    * @param fingerprint identifies the input snapshot (e.g. seed + scale)
    */
  def materialize(
      triples: Dataset[Triple],
      linked: DataFrame,
      outDir: String,
      fingerprint: String,
      sink: GraphSink = ParquetBucketSink): (DataFrame, DataFrame) = {
    val spark = triples.sparkSession
    import spark.implicits._

    // materialize the linking result once: it feeds nodes, the size guard and
    // both edge joins (4 consumers); vocabulary-sized, so cheap to pin
    val linkedM = linked.localCheckpoint()

    val nodes = rollupNodes(linkedM).withColumn("bucket", pmod(hash($"entity_id"), lit(NodeBuckets)))

    sink.write(nodes, s"$outDir/nodes", Seq("etype", "bucket"), outDir, "nodes", fingerprint)

    val edges = rollupEdges(triples.toDF(), linkedM,
        first($"subj_canonical").as("subj_canonical"),
        first($"obj_canonical").as("obj_canonical"),
        min($"conv_id").as("sample_conv_id"))
      .withColumn("bucket", pmod(hash($"subj_id"), lit(EdgeBuckets)))

    sink.write(edges, s"$outDir/edges", Seq("bucket"), outDir, "edges", fingerprint)
    (nodes, edges)
  }
}

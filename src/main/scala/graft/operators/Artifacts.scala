package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Save/load for the engine's BUILD artifacts — the pieces an incremental
  * pipeline persists between runs so a restart never re-fits or re-bands
  * the historical corpus:
  *
  *  - [[Dedup.MinhashIndex]] (two parquet relations, the near-dup index);
  *  - the exact-dedup fingerprint index (one parquet relation);
  *  - [[Similarity.IvfPqModel]] (a few KB of centroids + codebooks);
  *  - BPE merge tables (a few string pairs);
  *  - [[TextAnalysis.QualityLrModel]] (intercept + weights).
  *
  * The query layer's build memo (queries.ContextMemo) lives only as long
  * as its process — this module is the cross-process form the
  * incremental operators' scaladocs promise ("built ONCE, persisted as
  * parquet"; Dedup.scala). All persistence is plain parquet written with
  * the session's writer, so the artifacts live next to the data they
  * describe on any Hadoop-compatible filesystem; the driver-side models
  * round-trip through 1-to-few-row DataFrames rather than a JSON library
  * (no new dependency, identical float bits via parquet's IEEE doubles).
  *
  * Determinism contract: save→load is BIT-identical for every artifact
  * (asserted in DedupSimilaritySpec / CurationSpec), so a consumer of a
  * reloaded model produces the same plans and the same results as the
  * fitting process did.
  */
object Artifacts {

  /** Versions a compaction keeps after its [[pruneVersions]] sweep. */
  final val KeepVersions = 2

  // ---- append-only directories ----

  /** Append `df` as parquet to the append-only directory `dir`
    * (partitioned by `partitionBy`, if given), without the `_SUCCESS`
    * marker a job commit would otherwise rewrite on every append. Every
    * append write in the engine goes through here.
    *
    * Contract: an append-only directory carries no marker, and nothing
    * judges its completeness by one — `spark.read` skips `_` files,
    * versioned roots are judged by their `_LATEST` pointer
    * ([[publishVersion]]) and [[artifactExists]] by their data files;
    * Spark's own `FileStreamSink` writes no marker either. Rewriting it
    * per append costs a create (one PUT on an object store) and, on a
    * local filesystem, an overwrite of its checksum sidecar that can
    * block on writeback: on a 4-core box with an ext4 root, local[4],
    * the curation intake's batch (three appends) took 0.90 s with the
    * marker and 0.71 s without. Overwrite writes and [[publishVersion]]'s
    * versioned publishes keep their markers: they write into fresh
    * directories. The setting rides this one write's options, not the
    * session.
    */
  def append(df: DataFrame, dir: String, partitionBy: String*): Unit =
    df.write.mode("append")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .partitionBy(partitionBy: _*).parquet(dir)

  // ---- MinhashIndex (near-dup corpus index) ----

  /** Persist a [[Dedup.MinhashIndex]] as `dir/buckets` + `dir/content`.
    * Bucket rows land PARTITIONED BY `band` (one directory per band,
    * rows clustered on the (band, bucket) probe key within it) — the
    * same at-rest pruning story as the IVF-PQ cell layout. The
    * streaming gate ([[graft.streaming.EventStreams.incrementalNearIntake]])
    * probes every band in ONE two-key (band, bucket) join over a single
    * scan of the bucket relation; a reader that probes one band prunes
    * to 1/bands of the files. Appends ([[appendMinhashIndex]]) write the
    * SAME layout (a mixed layout would break partition discovery); the
    * next [[compactMinhashIndex]] re-clusters within bands and
    * re-enforces the cap.
    */
  def saveMinhashIndex(index: Dedup.MinhashIndex, dir: String): Unit = {
    index.buckets.select(col("id"), col("band"), col("bucket"))
      .repartition(col("band"), col("bucket"))
      .write.mode("overwrite").partitionBy("band").parquet(s"$dir/buckets")
    index.content.write.mode("overwrite").parquet(s"$dir/content")
  }

  /** Append `docs`' index rows — band-bucket rows and shingle sets, the
    * [[Dedup.minhashIndex]] shapes without its bucket cap and per-id
    * dedup, which [[compactMinhashIndex]] re-enforces — to the persisted
    * index at `dir`: the closed-loop step of the near-dup intakes, so
    * the next cycle's gate sees this cycle's docs.
    */
  def appendMinhashIndex(docs: DataFrame, dir: String): Unit = {
    append(Dedup.minhashBuckets(docs, Dedup.IndexShingle, Dedup.IndexBands,
      Dedup.IndexRowsPerBand), s"$dir/buckets", "band")
    append(docs.select(col("doc_id").as("id"),
      Dedup.shingles(col("text"), Dedup.IndexShingle).as("sh")), s"$dir/content")
  }

  /** Load pair of [[saveMinhashIndex]]. Resolves the crash-safe `_LATEST`
    * pointer first ([[resolveLive]]) so a dir that has been through a
    * versioned [[compactMinhashIndex]] and a legacy flat dir load through
    * the same call. Column order and the partition column's type are
    * NORMALIZED back to the in-memory contract (id, band int, bucket) —
    * partitioned reads append the partition column last, and appended
    * un-partitioned files must union cleanly.
    */
  def loadMinhashIndex(spark: SparkSession, dir: String): Dedup.MinhashIndex = {
    val live = resolveLive(spark, dir)
    Dedup.MinhashIndex(
      spark.read.parquet(s"$live/buckets")
        .select(col("id"), col("band").cast("int").as("band"), col("bucket")),
      spark.read.parquet(s"$live/content"))
  }

  /** Periodic COMPACTION of a persisted [[Dedup.MinhashIndex]] that has
    * taken streaming appends
    * ([[graft.streaming.EventStreams.maintainedNearIntake]] appends
    * batch-sized row sets without re-enforcing the per-(band, bucket)
    * cap): re-caps every bucket at `maxBucket` ids (smallest-id-first,
    * the same deterministic rule as [[Dedup.minhashIndex]]) and dedups
    * content rows per id — `min(sh)` (array comparison is a total order),
    * so if the same id was ever appended with different text, which
    * shingle set survives is deterministic, not first-arrival.
    *
    * CRASH-SAFE: the compacted index is published as a fresh
    * `dir/v=<n+1>` via [[publishVersion]] — never an in-place overwrite —
    * and readers ([[loadMinhashIndex]] through [[resolveLive]]) follow
    * the `_LATEST` pointer, so a crash at ANY point of the compaction
    * leaves the last complete version live (a partial `v=<n+1>` is inert
    * garbage the next compaction ignores: version numbers come from the
    * directory listing, so it is never re-used). After a successful
    * publish the legacy flat layout (if this was the first versioned
    * compaction) is deleted and a [[pruneVersions]] sweep bounds the
    * version history. Run on the maintenance cadence, not per batch, and
    * on a QUIESCED index — appends racing the compaction's read would be
    * absent from the new version.
    */
  def compactMinhashIndex(spark: SparkSession, dir: String,
      maxBucket: Int = Dedup.MaxBucket): Unit = {
    val idx = loadMinhashIndex(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket")).orderBy(col("id"))
    val buckets = idx.buckets.dropDuplicates("band", "bucket", "id")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxBucket).drop("__rn")
    val content = idx.content
      .groupBy(col("id")).agg(min(col("sh")).as("sh"))
    publishVersion(spark, dir)(target =>
      saveMinhashIndex(Dedup.MinhashIndex(buckets, content), target))
    // first versioned compaction of a legacy flat dir: drop the flat
    // relations AFTER the pointer names the new version (a crash between
    // publish and these deletes leaves harmless orphans, re-swept next time)
    val conf = spark.sessionState.newHadoopConf()
    Seq(s"$dir/buckets", s"$dir/content").foreach { legacy =>
      val p = new org.apache.hadoop.fs.Path(legacy)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, true)
    }
    pruneVersions(spark, dir)
  }

  /** Crash-safe COMPACTION of the at-rest IVF-PQ index — the ANN twin of
    * [[compactMinhashIndex]], closing the same operational hole:
    * [[Similarity.writeIvfPqIndex]]'s in-place overwrite is not atomic,
    * and streaming appends ([[graft.streaming.EventStreams.maintainedIvfIntake]])
    * accumulate one small file set per batch per touched cell. This
    * sweep reads the live codes, re-clusters them by cell (collapsing
    * the append-born small files), and publishes the result as a fresh
    * `root/v=<n+1>` via [[publishVersion]] — readers
    * ([[Similarity.ivfPqApplyFromDisk]]) and appenders
    * ([[Similarity.appendToIvfPqIndex]]) resolve `_LATEST`, so a crash
    * at ANY point leaves the last complete version live and a torn
    * `v=<n>` is inert garbage (version numbers come from the directory
    * listing, never re-used). After a successful publish the legacy
    * flat cell directories (first versioned compaction) are deleted and
    * [[pruneVersions]] bounds the history. Run on the maintenance
    * cadence on a QUIESCED index, exactly like the minhash compaction.
    * Codes are re-clustered, NOT re-encoded — a model refit + full
    * re-encode is a bigger maintenance tier that also lands through
    * [[publishVersion]] (write a fresh version with
    * `Similarity.writeIvfPqIndex` inside the `write` callback).
    */
  def compactIvfPqIndex(spark: SparkSession, root: String): Unit = {
    val codes = spark.read.parquet(resolveLive(spark, root))
    publishVersion(spark, root)(target =>
      codes.repartition(col("centroid_id"))
        .write.mode("overwrite").partitionBy("centroid_id").parquet(target))
    // first versioned compaction of a legacy flat layout: drop the flat
    // cell directories AFTER the pointer names the new version (a crash
    // between publish and these deletes leaves harmless orphans)
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(conf)
    if (fs.exists(rootPath))
      fs.listStatus(rootPath).toSeq
        .filter(s => s.getPath.getName.startsWith("centroid_id=") ||
          s.getPath.getName == "_SUCCESS")
        .foreach(s => fs.delete(s.getPath, true))
    pruneVersions(spark, root)
  }

  /** At-rest LAYOUT health of the live IVF-PQ index version: parquet
    * file counts per cell directory. This is the degradation that
    * [[compactIvfPqIndex]] actually repairs — streaming appends
    * ([[graft.streaming.EventStreams.maintainedIvfIntake]]) add one
    * small file set per micro-batch per TOUCHED cell, so a hot cell
    * accumulates files far faster than the rest (scan cost per probe of
    * that cell grows with its file count, not its row count). Distinct
    * from [[Similarity.cellStats]], which measures ROW skew — a
    * quantizer-quality signal only a model refit can change; compaction
    * cannot and should not trigger on it. Metadata-only: one directory
    * listing of the live version, the same driver-side footprint as
    * [[pruneVersions]] — no data is read.
    */
  final case class IvfLayoutStats(nCells: Int, nFiles: Long,
      maxFilesPerCell: Int, avgFilesPerCell: Double, p99FilesPerCell: Double) {
    /** Hot-cell file skew: p99 over mean. ~1.0 for a freshly compacted
      * layout (one file set per cell), grows as appends concentrate.
      */
    def skew: Double =
      if (avgFilesPerCell <= 0) 1.0 else p99FilesPerCell / avgFilesPerCell
  }

  def ivfLayoutStats(spark: SparkSession, root: String): IvfLayoutStats = {
    val live = new org.apache.hadoop.fs.Path(resolveLive(spark, root))
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    val perCell =
      if (!fs.exists(live)) Array.empty[Int]
      else fs.listStatus(live).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("centroid_id="))
        .map(c => fs.listStatus(c.getPath)
          .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")))
        .toArray
    if (perCell.isEmpty) IvfLayoutStats(0, 0L, 0, 0.0, 0.0)
    else {
      val sorted = perCell.sorted
      val p99 = sorted(math.min(sorted.length - 1,
        math.ceil(0.99 * sorted.length).toInt - 1).max(0))
      IvfLayoutStats(perCell.length, perCell.map(_.toLong).sum,
        sorted.last, perCell.map(_.toDouble).sum / perCell.length, p99.toDouble)
    }
  }

  /** MAINTENANCE TRIGGER connecting the layout health probe to the
    * compaction — the cadence driver [[compactMinhashIndex]]'s scaladoc
    * promises but leaves to the operator. Compacts the at-rest IVF-PQ
    * index iff the live layout is degraded: hot-cell file skew
    * (`p99/mean > 3`, appends concentrating on few cells) OR
    * uniform small-file proliferation (`mean > 4`, every cell
    * fragmented by many batches — skew stays ~1 but every probe pays the
    * per-file open cost). Below both bounds it is a metadata-only no-op,
    * so calling it on every maintenance tick is safe and cheap; serving
    * is identical either way because [[compactIvfPqIndex]] only
    * re-clusters rows and publishes through [[publishVersion]]. Same
    * quiesced-index contract as the compaction itself.
    *
    * @return true iff a compaction was triggered and published
    */
  def maintainIvfPqIndex(spark: SparkSession, root: String): Boolean = {
    val st = ivfLayoutStats(spark, root)
    val degraded = st.nCells > 0 &&
      (st.skew > 3.0 || st.avgFilesPerCell > 4.0)
    if (degraded) compactIvfPqIndex(spark, root)
    degraded
  }

  // ---- exact-dedup fingerprint index ----

  /** Persist the exact-dedup fingerprint index (`content_hash` plus any
    * carried columns, e.g. keep_id). Pairs with [[Dedup.incrementalDedup]]:
    * each completed ingest appends its survivors' hashes ([[append]])
    * and the next batch anti-joins the union. Appends against a VERSIONED
    * root must target [[resolveLive]] (what the maintained intake loops
    * do), not the root itself.
    */
  def saveFingerprintIndex(index: DataFrame, dir: String): Unit =
    index.write.mode("overwrite").parquet(dir)

  /** Load pair of [[saveFingerprintIndex]], resolving the `_LATEST`
    * pointer first so versioned and flat layouts load identically.
    */
  def loadFingerprintIndex(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(resolveLive(spark, dir))

  // ---- dedup cluster label map (append-only delta log) ----

  /** The ONLINE-maintained component label map for the dedup graph:
    * rather than rewriting a corpus-sized (id, comp) relation per ingest
    * (a full-table write per micro-batch — not incremental in I/O terms),
    * each merge appends only its CHANGED rows as a (id, comp, seq) delta
    * and readers resolve the latest label per id. [[compactLabels]]
    * squashes the log on the maintenance cadence through the crash-safe
    * [[publishVersion]] machinery, which also bounds the per-read
    * resolve cost. Single-writer by contract (the intake loop); `seq`
    * strictly increases per append, so the per-id resolve has no ties.
    */
  def appendLabelDeltas(delta: DataFrame, dir: String, seq: Long): Unit =
    append(delta.select(col("id"), col("comp"), lit(seq).as("seq")),
      resolveLive(delta.sparkSession, dir))

  /** Latest label per id over an (id, comp, seq) delta-log RELATION —
    * the resolve the label map serves through; factored out of
    * [[currentLabels]] so the serving view is a queryable operator
    * (q_dedup_labels_resolved oracle-checks it against DuckDB's
    * `max_by`). `max_by(comp, seq)` is deterministic given the log
    * contract: one row per id per seq.
    */
  def resolveLabels(log: DataFrame): DataFrame =
    log.groupBy(col("id"))
      .agg(max_by(col("comp"), col("seq")).as("comp"))

  /** Latest label per id across the persisted delta log (empty relation
    * if the log does not exist yet).
    */
  def currentLabels(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val live = resolveLive(spark, dir)
    if (!exists(spark, live)) Seq.empty[(Long, Long)].toDF("id", "comp")
    else resolveLabels(spark.read.parquet(live))
  }

  /** Next delta sequence number: one aggregate over the log (bounded by
    * the compaction cadence — a squashed log is one seq deep).
    */
  def nextLabelSeq(spark: SparkSession, dir: String): Long = {
    val live = resolveLive(spark, dir)
    if (!exists(spark, live)) 1L
    else spark.read.parquet(live).agg(max(col("seq"))).head() match {
      case r if r.isNullAt(0) => 1L
      case r => r.getLong(0) + 1L
    }
  }

  /** Squash the label delta log to its resolved state at seq=1 — a fresh
    * crash-safe version via [[publishVersion]] ([[compactMinhashIndex]]'s
    * contract: torn versions inert, run quiesced, legacy flat files
    * swept after the pointer flip, history pruned).
    */
  def compactLabels(spark: SparkSession, root: String): Unit = {
    val resolved = currentLabels(spark, root)
    publishVersion(spark, root)(target =>
      resolved.select(col("id"), col("comp"), lit(1L).as("seq"))
        .write.mode("overwrite").parquet(target))
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(conf)
    if (fs.exists(rootPath))
      fs.listStatus(rootPath).toSeq
        .filter { s =>
          val n = s.getPath.getName
          !n.startsWith("v=") && n != "_LATEST" && !n.startsWith("._LATEST")
        }
        .foreach(s => fs.delete(s.getPath, true))
    pruneVersions(spark, root)
  }

  // ---- IvfPqModel (ANN build artifact) ----

  /** Persist an [[Similarity.IvfPqModel]] as one tiny parquet relation of
    * (kind, subspace, cid, vec) rows: kind='cent' rows carry the coarse
    * centroids (subspace = -1), kind='book' rows one codebook centroid
    * per (subspace, cid). Float32 vectors round-trip exactly.
    *
    * CRASH-SAFE like the maintained indexes: the relation lands as a
    * fresh `dir/v=<n+1>` through [[publishVersion]] — a crash mid-save
    * leaves no pointer (or the previous one), never a torn dir that a
    * later [[loadOrFitIvfPq]] would mistake for a live model.
    */
  def saveIvfPqModel(spark: SparkSession, model: Similarity.IvfPqModel,
      dir: String): Unit = {
    import spark.implicits._
    val centRows = model.cents.toSeq.map { case (cid, cv) =>
      ("cent", -1, cid, cv.toSeq)
    }
    val bookRows = for {
      (book, s) <- model.books.toSeq.zipWithIndex
      (cv, cid) <- book.toSeq.zipWithIndex
    } yield ("book", s, cid, cv.toSeq)
    publishVersion(spark, dir)(target =>
      (centRows ++ bookRows).toDF("kind", "subspace", "cid", "vec")
        .coalesce(1).write.mode("overwrite").parquet(target))
  }

  def loadIvfPqModel(spark: SparkSession, dir: String): Similarity.IvfPqModel = {
    val rows = spark.read.parquet(resolveLive(spark, dir)).collect()
    val cents = rows.filter(_.getString(0) == "cent")
      .map(r => (r.getInt(2), r.getSeq[Float](3).toArray))
      .sortBy(_._1)
    val books = rows.filter(_.getString(0) == "book")
      .groupBy(_.getInt(1)).toArray.sortBy(_._1)
      .map { case (_, rs) =>
        rs.sortBy(_.getInt(2)).map(_.getSeq[Float](3).toArray)
      }
    require(cents.nonEmpty && books.nonEmpty, s"no IVF-PQ model rows under $dir")
    Similarity.IvfPqModel(cents, books)
  }

  // ---- BPE merge table (tokenizer artifact) ----

  /** Persist an ordered BPE merge list as (round, left, right) rows —
    * the artifact a BPE tokenizer IS. Order is the merge ROUND, restored
    * on load (parquet row order is not a contract). Published as a
    * [[publishVersion]] version like every other one-shot artifact: a
    * crash mid-save can never leave a torn dir that reads as live.
    */
  def saveBpeMerges(spark: SparkSession, merges: Seq[(String, String)],
      dir: String): Unit = {
    import spark.implicits._
    publishVersion(spark, dir)(target =>
      merges.zipWithIndex.map { case ((l, r), i) => (i + 1, l, r) }
        .toDF("round", "left", "right")
        .coalesce(1).write.mode("overwrite").parquet(target))
  }

  def loadBpeMerges(spark: SparkSession, dir: String): Seq[(String, String)] =
    spark.read.parquet(resolveLive(spark, dir)).orderBy(col("round")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq

  // ---- versioned publication (crash-safe maintenance) ----

  /** In-place `overwrite` (what [[saveMinhashIndex]] does on a flat dir)
    * is NOT atomic: a crash mid-write leaves a broken directory. For
    * maintenance jobs that must never corrupt the live artifact, publish
    * VERSIONS instead: each call writes into a fresh `root/v=<n+1>`
    * directory and only then flips the 1-line `root/_LATEST` pointer
    * file (the poor-man's transaction log). Two details carry the
    * crash-safety contract:
    *
    *  - the pointer flip is ONE overwriting rename
    *    (`FileContext.rename(..., Options.Rename.OVERWRITE)`), not
    *    delete-then-rename — there is no window where no pointer exists;
    *  - the next version number derives from the `v=*` DIRECTORY LISTING
    *    (max + 1), not from the pointer — so even a lost or stale
    *    pointer can never cause a publish to re-use (and overwrite) an
    *    existing version directory, and a partial `v=<n>` left by a
    *    crashed write is simply skipped past, never written into again.
    *
    * Readers resolve the pointer via [[latestVersion]]/[[resolveLive]];
    * old versions stay until a [[pruneVersions]] sweep deletes them.
    */
  def publishVersion(spark: SparkSession, root: String)
      (write: String => Unit): String = {
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(conf)
    val next = 1 + listVersions(fs, rootPath).lastOption
      .map(_.substring(2).toLong).getOrElse(0L)
    val target = s"$root/v=$next"
    write(target)
    val tmp = new org.apache.hadoop.fs.Path(s"$root/._LATEST.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"v=$next".getBytes("UTF-8")) finally out.close()
    val ptr = new org.apache.hadoop.fs.Path(s"$root/_LATEST")
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(rootPath.toUri, conf)
    fc.rename(tmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    target
  }

  /** The live artifact directory: the `_LATEST` target when `dir` is a
    * versioned [[publishVersion]] root, else `dir` itself (flat layout).
    */
  def resolveLive(spark: SparkSession, dir: String): String =
    latestVersion(spark, dir).getOrElse(dir)

  /** `v=<n>` child directory names of `root`, sorted by version number. */
  private def listVersions(fs: org.apache.hadoop.fs.FileSystem,
      rootPath: org.apache.hadoop.fs.Path): Seq[String] =
    if (!fs.exists(rootPath)) Nil
    else fs.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .map(_.getPath.getName)
      .sortBy(_.substring(2).toLong)

  /** The directory `root/_LATEST` points at, if any complete version has
    * been published.
    */
  def latestVersion(spark: SparkSession, root: String): Option[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val ptr = new org.apache.hadoop.fs.Path(s"$root/_LATEST")
    val fs = ptr.getFileSystem(conf)
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      try {
        val v = new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
        if (v.isEmpty) None else Some(s"$root/$v")
      } finally in.close()
    }
  }

  /** Retention sweep for [[publishVersion]] roots: delete old version
    * directories, NEVER touching the one `_LATEST` points at — keep=0 is
    * legal and means "only the live version survives" (the live-version
    * guard, not the keep count, is what protects the pointer target).
    *
    * Race-safe against a CONCURRENT publish: only versions STRICTLY
    * OLDER than the pointer target are deletion candidates, and the
    * pointer is read AFTER the directory listing. A publish that lands
    * anywhere in between either (a) is newer than everything listed —
    * its directory is not a candidate — or (b) has already flipped the
    * pointer when we read it, so candidates are older than IT. Either
    * way the interleaving cannot delete a complete live version
    * (property-driven in DedupSimilaritySpec via the injection seam).
    */
  def pruneVersions(spark: SparkSession, root: String,
      keep: Int = KeepVersions): Unit =
    pruneVersionsImpl(spark, root, keep, () => ())

  /** [[pruneVersions]] with a test seam: `betweenListAndPointerRead` runs
    * between the directory listing and the pointer read — the window a
    * concurrent publish races into.
    */
  private[graft] def pruneVersionsImpl(spark: SparkSession, root: String,
      keep: Int, betweenListAndPointerRead: () => Unit): Unit = {
    require(keep >= 0, s"keep $keep — must be non-negative")
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(conf)
    if (!fs.exists(rootPath)) return
    val versions = listVersions(fs, rootPath)
    betweenListAndPointerRead()
    val liveN = latestVersion(spark, root)
      .map(_.split('/').last.substring(2).toLong)
    val toDelete = liveN match {
      case Some(n) =>
        // strictly-older-than-live candidates; live + anything newer
        // (an in-flight publish) always survive
        versions.filter(_.substring(2).toLong < n)
          .dropRight(math.max(keep - 1, 0))
      case None =>
        // no pointer (legacy root): best-effort — keep the newest
        // max(keep, 1) since completeness is unknowable without a pointer
        versions.dropRight(math.max(keep, 1))
    }
    toDelete.foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/$n"), true))
  }

  // ---- load-or-fit compositions ----

  /** Hadoop-FS existence probe (portable across local/HDFS/object
    * stores — a java.io check would only see the local filesystem).
    */
  private def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Does a COMPLETE artifact live under `dir`? True iff the `_LATEST`
    * pointer names a published version (a version is complete by the
    * [[publishVersion]] contract: the pointer flips only after the write
    * returns), or the dir holds a legacy pre-versioning flat payload.
    * A torn `v=<n>` left by a crashed save has no pointer and is NOT
    * payload — it reads as absent, so load-or-fit refits instead of
    * crashing on a partial parquet dir. (A torn LEGACY flat write is
    * indistinguishable from a complete one without a pointer; every
    * save in this module now publishes versions, so that window only
    * covers dirs written before versioning existed.)
    */
  private[graft] def artifactExists(spark: SparkSession, dir: String): Boolean =
    latestVersion(spark, dir).isDefined || {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.exists(p) && fs.listStatus(p).exists { s =>
        val n = s.getPath.getName
        !n.startsWith("v=") && n != "_LATEST" && !n.startsWith("._LATEST")
      }
    }

  /** The call a production pipeline makes: reuse the persisted artifact
    * if present, else run `fit` once and persist it. The by-name `fit`
    * is only forced on a miss, so a warm restart costs one FS probe +
    * one tiny read — never a re-fit (spec-asserted via a fit counter).
    * "Present" means [[artifactExists]] — a complete published version
    * (or legacy flat payload), never a torn crash remnant. Every public
    * `loadOrFit*` below is this body with its artifact's load and save.
    */
  private def loadOrFit[M](spark: SparkSession, dir: String)(fit: => M)(
      load: => M, save: M => Unit): M =
    if (artifactExists(spark, dir)) load
    else { val m = fit; save(m); m }

  def loadOrFitIvfPq(spark: SparkSession, dir: String)
      (fit: => Similarity.IvfPqModel): Similarity.IvfPqModel =
    loadOrFit(spark, dir)(fit)(loadIvfPqModel(spark, dir), saveIvfPqModel(spark, _, dir))

  def loadOrFitBpeMerges(spark: SparkSession, dir: String)
      (fit: => Seq[(String, String)]): Seq[(String, String)] =
    loadOrFit(spark, dir)(fit)(loadBpeMerges(spark, dir), saveBpeMerges(spark, _, dir))

  def loadOrFitQualityLr(spark: SparkSession, dir: String)
      (fit: => TextAnalysis.QualityLrModel): TextAnalysis.QualityLrModel =
    loadOrFit(spark, dir)(fit)(loadQualityLr(spark, dir), saveQualityLr(spark, _, dir))

  /** The fitted ALS factor model — the reference's FLAGSHIP artifact (the
    * ~30-minute cluster fit of `als.py:87` that the reference recomputes
    * every run; `FinalReport.pdf p.3 §4`). MLlib's own `ALSModel.save`
    * persists the user/item factor matrices as parquet plus params
    * metadata, so this is a thin load-or-fit composition in the
    * [[loadOrFit]] mold: a warm restart costs one FS probe + a
    * factor-matrix read — never the fit. Factors round-trip exactly
    * (parquet IEEE floats), so per-(user, item) predictions from a
    * reloaded model are bit-identical to the fitting process's
    * (spec-asserted in RecommendSpec; top-k recommendation TIE-breaks
    * follow partition order and may differ, exactly as they may between
    * two runs of the fitting process itself).
    *
    * Save goes through [[publishVersion]] like every one-shot artifact:
    * `ALSModel.save` writes three sub-relations (metadata + two factor
    * matrices) with no atomicity across them, so an in-place overwrite
    * interrupted between them leaves a dir that `exists()` would serve
    * as a live model. A versioned save flips the pointer only after all
    * three land; [[artifactExists]] treats a torn pointerless `v=<n>`
    * as absent → refit, not crash.
    */
  def loadOrFitAls(spark: SparkSession, dir: String)
      (fit: => org.apache.spark.ml.recommendation.ALSModel)
      : org.apache.spark.ml.recommendation.ALSModel =
    loadOrFit(spark, dir)(fit)(
      org.apache.spark.ml.recommendation.ALSModel.load(resolveLive(spark, dir)),
      m => publishVersion(spark, dir)(target => m.write.save(target)))

  // ---- QualityLrModel (trained quality gate) ----

  /** Persist a [[TextAnalysis.QualityLrModel]] as one (intercept, weights)
    * row. IEEE doubles round-trip exactly through parquet, so the served
    * sigmoid scores are bit-identical across the save/load boundary.
    * Published via [[publishVersion]] — crash mid-save leaves the
    * previous version (or nothing) live, never a torn dir.
    */
  def saveQualityLr(spark: SparkSession, model: TextAnalysis.QualityLrModel,
      dir: String): Unit = {
    import spark.implicits._
    publishVersion(spark, dir)(target =>
      Seq((model.intercept, model.weights.toSeq))
        .toDF("intercept", "weights")
        .coalesce(1).write.mode("overwrite").parquet(target))
  }

  def loadQualityLr(spark: SparkSession, dir: String): TextAnalysis.QualityLrModel = {
    val r = spark.read.parquet(resolveLive(spark, dir)).head()
    TextAnalysis.QualityLrModel(r.getDouble(0), r.getSeq[Double](1).toArray)
  }

  // ---- Bm25Model (query-relevance serving statistics) ----

  /** Persist a [[TextAnalysis.Bm25Model]] as one row: the two scoring
    * constants, avgdl, and the (term, idf) pairs as two PARALLEL
    * term-sorted arrays (a deterministic layout; a map column's parquet
    * key order is an implementation detail). IEEE doubles round-trip
    * exactly, so a reloaded model serves bit-identical scores — the same
    * contract every other fit artifact here carries. Published via
    * [[publishVersion]]: a restarted serving job reads the stats of the
    * fitting run's corpus snapshot instead of silently refitting against
    * whatever the corpus has drifted to (which is exactly the failure
    * the [[saveLenHistogram]] drift reference exists to catch).
    */
  def saveBm25(spark: SparkSession, model: TextAnalysis.Bm25Model,
      dir: String): Unit = {
    import spark.implicits._
    val terms = model.idf.keys.toSeq.sorted
    publishVersion(spark, dir)(target =>
      Seq((model.k1, model.b, model.avgdl, terms, terms.map(model.idf)))
        .toDF("k1", "b", "avgdl", "terms", "idfs")
        .coalesce(1).write.mode("overwrite").parquet(target))
  }

  def loadBm25(spark: SparkSession, dir: String): TextAnalysis.Bm25Model = {
    val r = spark.read.parquet(resolveLive(spark, dir))
      .select("k1", "b", "avgdl", "terms", "idfs").head()
    TextAnalysis.Bm25Model(r.getDouble(0), r.getDouble(1), r.getDouble(2),
      r.getSeq[String](3).zip(r.getSeq[Double](4)).toMap)
  }

  def loadOrFitBm25(spark: SparkSession, dir: String)
      (fit: => TextAnalysis.Bm25Model): TextAnalysis.Bm25Model =
    loadOrFit(spark, dir)(fit)(loadBm25(spark, dir), saveBm25(spark, _, dir))

  // ---- LenHistogram (drift-alarm reference distribution) ----

  /** Persist the drift-alarm reference histogram
    * ([[TextAnalysis.LenHistogram]] — ≤ 21 doubles) as one row. The
    * reference distribution is the DEFINITION of "in-profile" for
    * [[graft.streaming.EventStreams.driftAlarmIntake]]; refitting it per
    * session against the live corpus would quietly re-baseline the alarm
    * to whatever drift has already happened. Versioned like every other
    * fit artifact.
    */
  def saveLenHistogram(spark: SparkSession,
      ref: TextAnalysis.LenHistogram, dir: String): Unit = {
    import spark.implicits._
    publishVersion(spark, dir)(target =>
      Seq(Tuple1(ref.probs.toSeq)).toDF("probs")
        .coalesce(1).write.mode("overwrite").parquet(target))
  }

  def loadLenHistogram(spark: SparkSession,
      dir: String): TextAnalysis.LenHistogram = {
    val r = spark.read.parquet(resolveLive(spark, dir)).select("probs").head()
    TextAnalysis.LenHistogram(r.getSeq[Double](0).toArray)
  }

  def loadOrFitLenHistogram(spark: SparkSession, dir: String)
      (fit: => TextAnalysis.LenHistogram): TextAnalysis.LenHistogram =
    loadOrFit(spark, dir)(fit)(loadLenHistogram(spark, dir), saveLenHistogram(spark, _, dir))

  // ---- Item-neighbor index (related-items serving artifact) ----

  /** Persist the item-neighbor index AND the capped interaction snapshot
    * it was built from as ONE crash-safe version (both or neither:
    * recommendation serving joins them, so a torn pair would be a
    * CONSISTENCY bug — votes/exclusions against a different interaction
    * state than the index saw). Same `publishVersion`/`_LATEST`
    * discipline as every other fit artifact; a pointerless partial
    * `v=` dir reads as absent (rebuild, not crash).
    */
  def saveItemIndex(spark: SparkSession, root: String,
      index: DataFrame, capped: DataFrame): String =
    publishVersion(spark, root) { dir =>
      index.write.mode("overwrite").parquet(s"$dir/idx")
      capped.write.mode("overwrite").parquet(s"$dir/capped")
    }

  /** Load pair of [[saveItemIndex]]: `(index, capped)` from the live
    * version.
    */
  def loadItemIndex(spark: SparkSession,
      root: String): (DataFrame, DataFrame) = {
    val live = resolveLive(spark, root)
    (spark.read.parquet(s"$live/idx"), spark.read.parquet(s"$live/capped"))
  }

  /** Serve-or-build: a published version loads (no refit on warm
    * restart); absent or torn roots build from `ratings` and publish.
    */
  def loadOrBuildItemIndex(spark: SparkSession, root: String,
      ratings: => DataFrame): (DataFrame, DataFrame) = {
    if (latestVersion(spark, root).isEmpty) {
      val r = ratings
      saveItemIndex(spark, root,
        Recommend.itemNeighbors(r, 30, 5, 2L),
        Recommend.cappedInteractions(r, 30))
    }
    loadItemIndex(spark, root)
  }
}

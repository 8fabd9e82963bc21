package graft.runtime

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg.Kg
import graft.nlp.Pipeline
import graft.sources.Docs

/** Resumable, bucketed KG-construction job (north_rule: per-partition
  * lineage + metrics, resume after kill with no reprocessing).
  *
  * No Iceberg runtime ships in this sandbox, so "Iceberg tables" are
  * partitioned Parquet plus an explicit commit-log table, with the same
  * semantics a real catalog would give:
  *
  *  - input is hash-bucketed on doc_id (`pmod(xxhash64(doc_id), nBuckets)`);
  *    each bucket is one unit of work and one output partition dir
  *  - per bucket: (1) overwrite `triples/bucket=<k>/` (idempotent), then
  *    (2) append one commit row (run lineage + counters + watermark) to the
  *    commit log as its own parquet file via an atomic rename
  *  - on startup, committed buckets are read from the log and skipped
  *    (anti-join on bucket id); a crash between (1) and (2) just reruns
  *    that bucket and overwrites — output is exactly-once
  *
  * The same loop is the incremental mode: new data lands as new buckets.
  * At cluster scale the driver loop over O(1000) buckets is negligible and
  * gives natural checkpoint granularity; within a bucket all parallelism
  * is Spark's.
  */
object KgJob {

  /** One committed bucket. `triples` is EXACT always (derived from the
    * written parquet footers, not from the execution); `docs`/`sents`/
    * `max_doc_id` ride the single pass as accumulators and are exact iff
    * `counters_exact` — false when a task retry/speculative attempt was
    * observed during the bucket (re-executed accumulator updates can
    * overcount; the OUTPUT is exactly-once regardless via overwrite).
    */
  final case class Commit(run_id: String, bucket: Int, docs: Long,
                          sents: Long, triples: Long, max_doc_id: String,
                          committed_at: Long, counters_exact: Boolean,
                          files: Seq[String] = Seq.empty,
                          op: String = "append",
                          seq: Long = 0L,
                          change_files: Seq[String] = Seq.empty)

  /** Raw commit rows. Schema-tolerant across format generations: commit
    * files written before the manifest columns existed (no `files`/`op`)
    * or before the monotonic `seq` are merged (`mergeSchema`) and
    * defaulted — op='append', files=[], seq=0 — so a mixed-era `_commits`
    * dir stays readable instead of hard-failing or NPE-ing in
    * manifestFiles. Legacy seq=0 rows keep their original
    * (committed_at, run_id, bucket) order; seq-era rows sort after them.
    */
  def commitLog(spark: SparkSession, outDir: String): DataFrame = {
    val dir = new java.io.File(s"$outDir/_commits")
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    if (files.isEmpty) spark.emptyDataFrame
    else {
      var log = spark.read.option("mergeSchema", "true").parquet(files: _*)
      if (!log.columns.contains("op")) log = log.withColumn("op", lit("append"))
      if (!log.columns.contains("files"))
        log = log.withColumn("files", array().cast("array<string>"))
      if (!log.columns.contains("seq")) log = log.withColumn("seq", lit(0L))
      if (!log.columns.contains("change_files"))
        log = log.withColumn("change_files", array().cast("array<string>"))
      log.withColumn("op", coalesce(col("op"), lit("append")))
        .withColumn("files",
          coalesce(col("files"), array().cast("array<string>")))
        .withColumn("seq", coalesce(col("seq"), lit(0L)))
        .withColumn("change_files",
          coalesce(col("change_files"), array().cast("array<string>")))
    }
  }

  /** Next commit sequence number: max over the existing log + 1 (Iceberg
    * sequence-number semantics). Single-writer per table dir (the bucket
    * loop, compaction, vacuum and upsert all run driver-side, serially),
    * so a read-increment is race-free; the read is one metadata-scale
    * parquet scan of `_commits`.
    */
  private def nextSeq(spark: SparkSession, outDir: String): Long = {
    val log = commitLog(spark, outDir)
    if (log.columns.isEmpty) 1L
    else log.agg(coalesce(max("seq"), lit(0L))).first().getLong(0) + 1L
  }

  def committedBuckets(spark: SparkSession, outDir: String): Set[Int] = {
    val log = commitLog(spark, outDir)
    if (log.columns.isEmpty) Set.empty
    else log.select("bucket").distinct().collect().map(_.getInt(0)).toSet
  }

  /** Append one commit row atomically: write to a temp dir, then move the
    * part file into `_commits/` under a unique name (rename is atomic on
    * the same filesystem — the staged-commit protocol from SURVEY.md §7.6).
    */
  private def appendCommit(spark: SparkSession, outDir: String, c0: Commit): Unit = {
    import spark.implicits._
    // stamp the monotonic sequence number at commit time — snapshot order
    // derives from it, not from wall-clock committed_at (a clock step
    // backwards between commits can no longer interleave snapshot ids)
    val c = c0.copy(seq = nextSeq(spark, outDir))
    val tmp = s"$outDir/_tmp_commit_${c.run_id}_${c.bucket}"
    Seq(c).toDF().coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(s"$outDir/_commits/${c.run_id}_${c.bucket}.parquet")
    dst.getParentFile.mkdirs()
    java.nio.file.Files.move(part.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  /** Exact row count from parquet footers — metadata only, no Spark job,
    * no data scan (the written files are already on disk; their footers
    * carry the row counts a real table format would keep in its manifest).
    */
  private def parquetRowCount(spark: SparkSession, dir: String): Long =
    parquetManifest(spark, dir)._2

  /** Per-file manifest of a written bucket dir: (file names, exact row
    * count) from parquet footers — metadata only, no Spark job. The file
    * list is what the commit row records (an Iceberg manifest's data-file
    * entries); names are dir-relative so the table stays relocatable.
    */
  private def parquetManifest(spark: SparkSession, dir: String): (Seq[String], Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    val perFile = fs.listStatus(p).iterator
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try (f.getPath.getName, r.getRecordCount) finally r.close()
      }.toSeq.sortBy(_._1)
    (perFile.map(_._1), perFile.map(_._2).sum)
  }

  /** Counts task attempts that were retries/speculative/failed — any of
    * them means transformation-side accumulators may have double-counted.
    */
  private final class RetryListener extends org.apache.spark.scheduler.SparkListener {
    val dirty = new java.util.concurrent.atomic.AtomicInteger(0)
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null &&
        (e.taskInfo.attemptNumber > 0 || e.taskInfo.speculative ||
          e.taskInfo.failed)) dirty.incrementAndGet()
  }

  /** Test hook: when armed, the next doc mapped in [[run]]'s counting stage
    * throws once, forcing a task retry (local-mode: one shared JVM).
    */
  private[graft] val chaosArm = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** String-max accumulator for the per-bucket doc_id watermark. */
  final class MaxStringAcc extends org.apache.spark.util.AccumulatorV2[String, String] {
    private var v: String = ""
    def isZero: Boolean = v.isEmpty
    def copy(): MaxStringAcc = { val a = new MaxStringAcc; a.v = v; a }
    def reset(): Unit = v = ""
    def add(x: String): Unit = if (x > v) v = x
    def merge(o: org.apache.spark.util.AccumulatorV2[String, String]): Unit = {
      val ov = o.value; if (ov > v) v = ov
    }
    def value: String = v
  }

  /** Materialize the interleaved corpus hash-bucket-PARTITIONED on disk
    * (`bucket=<k>/` dirs). A resumable run pointed at this layout reads one
    * directory per bucket — partition pruning by construction, instead of
    * nBuckets full scans of the input.
    */
  def writeBucketedInput(spark: SparkSession, sfDir: String, dir: String,
                         nBuckets: Int): Unit =
    Docs.russianDocs(spark, sfDir)
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(nBuckets)).cast("int"))
      .write.partitionBy("bucket").mode(SaveMode.Overwrite).parquet(dir)

  /** Run (or resume) the full pipeline. Returns buckets processed this run.
    *
    * ONE Spark action per bucket: the parquet write. The docs/sents
    * counters and the doc_id watermark ride the same pass as accumulators
    * — no second sentenize pass, no separate count/agg jobs. The `triples`
    * counter is derived from the written parquet footers (metadata-only),
    * so it is exact even under task retries; the accumulator counters are
    * flagged via `counters_exact` when a retry/speculation was observed.
    *
    * @param bucketedInputDir when set, read `dir/bucket=<k>/` per bucket
    *        (layout from [[writeBucketedInput]]) — prunes instead of
    *        rescanning; when None the corpus is generated and filtered
    * @param failAfterBuckets test hook: throw after N successful buckets
    */
  def run(spark: SparkSession, sfDir: String, outDir: String, runId: String,
          nBuckets: Int = 8, failAfterBuckets: Int = -1,
          bucketedInputDir: Option[String] = None): Int = {
    import spark.implicits._
    val done = committedBuckets(spark, outDir)
    lazy val docs = Docs.russianDocs(spark, sfDir)
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(nBuckets)).cast("int"))
    var processed = 0
    for (b <- 0 until nBuckets if !done.contains(b)) {
      if (failAfterBuckets >= 0 && processed >= failAfterBuckets)
        throw new RuntimeException(s"injected failure before bucket $b")
      val bucketDocs = bucketedInputDir match {
        case Some(dir) => // partition-pruned read: only this bucket's dir.
          // partitionBy never writes a dir for an EMPTY bucket — that is
          // still a valid (vacuously complete) bucket, not a crash: commit
          // it with zero counters so resume semantics hold
          val p = new org.apache.hadoop.fs.Path(s"$dir/bucket=$b")
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(p))
            spark.read.parquet(p.toString)
              .select("doc_id", "spans").as[graft.sources.InterleavedDoc]
          else spark.emptyDataset[graft.sources.InterleavedDoc]
        case None =>
          docs.where(col("bucket") === b).drop("bucket")
            .as[graft.sources.InterleavedDoc]
      }
      val docsAcc = spark.sparkContext.longAccumulator(s"docs_b$b")
      val sentsAcc = spark.sparkContext.longAccumulator(s"sents_b$b")
      val maxAcc = new MaxStringAcc
      spark.sparkContext.register(maxAcc, s"max_doc_id_b$b")
      val retries = new RetryListener
      spark.sparkContext.addSparkListener(retries)
      try {
        val counted = bucketDocs.map { d =>
          if (chaosArm.compareAndSet(true, false))
            throw new RuntimeException("injected task chaos")
          docsAcc.add(1L); maxAcc.add(d.doc_id); d
        }
        val sents = Docs.sentences(counted).map { s => sentsAcc.add(1L); s }
        val parsed = Pipeline.parse(sents, graft.SparkEntry.packBc(spark))
        val triples = Kg.link(spark, Kg.triples(parsed))
        val dir = s"$outDir/triples/bucket=$b"
        triples.toDF().write.mode(SaveMode.Overwrite).parquet(dir)
        // listener events are posted asynchronously — drain before reading
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
        val (files, nTriples) = parquetManifest(spark, dir)
        appendCommit(spark, outDir, Commit(runId, b, docsAcc.value, sentsAcc.value,
          nTriples, maxAcc.value, System.currentTimeMillis(),
          counters_exact = retries.dirty.get() == 0,
          files = files.map(f => s"triples/bucket=$b/$f")))
      } finally spark.sparkContext.removeSparkListener(retries)
      processed += 1
    }
    processed
  }

  /** All committed triples — a manifest read (the latest snapshot), NOT a
    * directory listing: retained files from superseded rewrite snapshots
    * and orphans from a compaction that died before its commit landed
    * must both be invisible to the live table.
    */
  def triples(spark: SparkSession, outDir: String): DataFrame = {
    val snaps = snapshots(spark, outDir)
    if (snaps.columns.isEmpty) return spark.emptyDataFrame
    val head = snaps.agg(max("snapshot_id")).first().getLong(0)
    triplesAsOf(spark, outDir, head)
  }

  // ---- snapshot / time-travel / incremental reads over the commit log
  // (the Iceberg snapshot surface on our parquet + commit-log realization:
  // every commit row is one append snapshot; its `files` column is the
  // manifest's data-file list) ----------------------------------------

  /** Snapshot history: one row per commit, ordered into a deterministic
    * total order by (seq, committed_at, run_id, bucket) — the persisted
    * monotonic `seq` is primary (Iceberg sequence-number semantics: a
    * wall clock stepping backwards between commits cannot reorder
    * snapshot ids); committed_at/run_id/bucket only break ties among
    * legacy pre-seq rows (all seq=0). Dense 1-based `snapshot_id` plus
    * the running `cum_triples` the table held as of that snapshot.
    */
  def snapshots(spark: SparkSession, outDir: String): DataFrame = {
    val log = commitLog(spark, outDir)
    if (log.columns.isEmpty) return spark.emptyDataFrame
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("seq"), col("committed_at"), col("run_id"), col("bucket"))
    log.withColumn("snapshot_id", row_number().over(w).cast("long"))
      // a rewrite carries the same rows in new files and an upsert is a
      // keyed replace — only appends add to the cumulative append count
      .withColumn("cum_triples",
        sum(when(col("op") === "append", col("triples")).otherwise(0L)).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .select(col("snapshot_id"), col("seq"), col("run_id"), col("bucket"),
        col("op"), col("docs"), col("sents"), col("triples"),
        col("cum_triples"), col("max_doc_id"), col("committed_at"),
        col("counters_exact"), col("files"), col("change_files"))
  }

  /** Manifested data files for snapshots in (fromExclusive, toInclusive],
    * resolved against the table dir; fails loudly when a referenced file
    * no longer exists (the snapshot was expired by a later overwrite of
    * its bucket — Iceberg semantics: time travel needs retained files).
    * Driver-side collect is O(commits) manifest rows — metadata scale,
    * same order as a catalog's manifest-list read.
    */
  private def manifestFiles(spark: SparkSession, outDir: String,
                            fromEx: Long, toInc: Long,
                            appendsOnly: Boolean = false): Seq[String] = {
    val snaps = snapshots(spark, outDir)
    if (snaps.columns.isEmpty) return Seq.empty
    val inRange = snaps.where(col("snapshot_id") > fromEx &&
      col("snapshot_id") <= toInc)
    // a rewrite REPLACES its bucket's manifest: a full as-of read takes
    // each bucket's latest manifest <= the target snapshot; a CDC read
    // takes only appends (a rewrite adds no rows)
    val picked =
      if (appendsOnly) inRange.where(col("op") === "append")
      else {
        val latest = org.apache.spark.sql.expressions.Window
          .partitionBy("bucket")
          .orderBy(col("snapshot_id").desc)
        inRange.withColumn("rn", row_number().over(latest))
          .where(col("rn") === 1)
      }
    val rows = picked.select(col("snapshot_id"), col("files")).collect()
    rows.flatMap(r => r.getSeq[String](1).map(retainedFile(outDir, r.getLong(0), _))).toSeq
  }

  /** Data file `f` of snapshot `sid`, resolved against the table dir;
    * fails loudly when it no longer exists. */
  private def retainedFile(outDir: String, sid: Long, f: String): String = {
    val path = s"$outDir/$f"
    require(new java.io.File(path).exists(),
      s"snapshot $sid references expired data file $f — " +
        "the bucket was rewritten and vacuumed after this snapshot; " +
        "read a newer one")
    path
  }

  /** Time travel: the triple table exactly as of `snapshotId` (1-based,
    * from [[snapshots]]). Reads the manifested files, not the live bucket
    * dirs, so a later rewrite of a bucket cannot silently leak into an
    * old snapshot — it fails the require instead.
    */
  def triplesAsOf(spark: SparkSession, outDir: String, snapshotId: Long): DataFrame = {
    val files = manifestFiles(spark, outDir, 0L, snapshotId)
    if (files.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(files: _*)
  }

  /** Incremental (CDC) read, APPEND-ONLY view: rows appended by append
    * snapshots in (fromSnapshot, toSnapshot] — the union of those
    * commits' manifests. Rewrites add no rows and UPSERTS are NOT
    * reflected here (their inserts/retracts are keyed changes, not
    * appends); a consumer that must see upserts reads [[changelog]],
    * which emits typed insert/delete rows for every snapshot kind.
    */
  def changesBetween(spark: SparkSession, outDir: String,
                     fromSnapshot: Long, toSnapshot: Long): DataFrame = {
    require(fromSnapshot <= toSnapshot,
      s"changesBetween: from $fromSnapshot > to $toSnapshot")
    val files = manifestFiles(spark, outDir, fromSnapshot, toSnapshot,
      appendsOnly = true)
    if (files.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(files: _*)
  }

  /** Compact one bucket: rewrite its current manifest's rows into
    * `targetFiles` file(s) and append a `rewrite` snapshot pointing at
    * them. Crash-safe by WRITE ORDER, not locks: new files land under
    * unique names first, the commit row (atomic rename) makes them live,
    * and old files are NOT deleted — older snapshots stay readable until
    * [[vacuum]]. A compaction that dies pre-commit leaves only orphan
    * files, which manifest-based reads never see.
    *
    * At 10^12-doc scale this is the standard small-files maintenance
    * pass: one bucket = one independent job, schedulable bucket-by-bucket
    * behind the live pipeline.
    */
  def compactBucket(spark: SparkSession, outDir: String, bucket: Int,
                    runId: String, targetFiles: Int = 1): Unit =
    rewriteBucket(spark, outDir, bucket, runId, "compactBucket", "compact", "rewrite") { src =>
      // coalesce (no shuffle) when shrinking; repartition when the target
      // exceeds the scan's partition count (coalesce cannot grow)
      (if (src.rdd.getNumPartitions >= targetFiles) src.coalesce(targetFiles)
       else src.repartition(targetFiles), None)
    }

  /** The tail every bucket rewrite (compact / z-order / upsert) shares:
    * require a committed snapshot of `bucket`, read its head manifest's
    * files, write the content `rewrite` derives from them to a tmp dir,
    * publish it as `<kind>-<runId>-<i>.parquet` and append one `op`
    * commit row. A CDC change set `rewrite` returns is recorded to
    * `_changes/` after the data files and before the commit — crash-safe
    * by write order: data files first, the change file second, the atomic
    * commit rename last; a pre-commit death leaves only orphans that
    * manifest reads never see.
    */
  private def rewriteBucket(spark: SparkSession, outDir: String, bucket: Int,
                            runId: String, caller: String, kind: String, op: String)(
      rewrite: DataFrame => (DataFrame, Option[DataFrame])): Unit = {
    require(committedBuckets(spark, outDir).contains(bucket),
      s"$caller: bucket $bucket has no committed snapshot")
    val (content, changes) =
      rewrite(spark.read.parquet(headBucketFiles(spark, outDir, bucket): _*))
    val tmp = s"$outDir/_tmp_${kind}_${runId}_$bucket"
    content.write.mode(SaveMode.Overwrite).parquet(tmp)
    val (moved, nNew) =
      publishBucketFiles(spark, outDir, bucket, tmp, s"$kind-$runId")
    val changeFiles = changes.toSeq.map { c =>
      val ctmp = s"$outDir/_tmp_changes_${runId}_$bucket"
      c.coalesce(1).write.mode(SaveMode.Overwrite).parquet(ctmp)
      val cname = s"changes-$runId-$bucket.parquet"
      val cdst = new java.io.File(s"$outDir/_changes/$cname")
      cdst.getParentFile.mkdirs()
      val cpart = new java.io.File(ctmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(cpart.toPath, cdst.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ctmp))
      s"_changes/$cname"
    }
    appendCommit(spark, outDir, Commit(runId, bucket, 0L, 0L, nNew, "",
      System.currentTimeMillis(), counters_exact = true,
      files = moved.map(f => s"triples/bucket=$bucket/$f"), op = op,
      change_files = changeFiles))
  }

  /** Data files of `bucket` referenced by the LATEST manifest. */
  private def headBucketFiles(spark: SparkSession, outDir: String,
                              bucket: Int): Seq[String] = {
    val head = snapshots(spark, outDir).agg(max("snapshot_id"))
      .first().getLong(0)
    manifestFiles(spark, outDir, 0L, head)
      .filter(_.contains(s"/bucket=$bucket/"))
  }

  /** Move the parquet parts under `tmp` into the bucket dir under
    * deterministic names, delete `tmp`, and return (names, exact row
    * count of the NEW files only — the dir also holds retained
    * old-snapshot files). Shared publish tail of every rewrite path
    * (compact / z-order / upsert); the atomic per-file moves keep the
    * crash-safety order (data first, commit rename last).
    */
  private def publishBucketFiles(spark: SparkSession, outDir: String,
                                 bucket: Int, tmp: String,
                                 namePrefix: String): (Seq[String], Long) = {
    val dir = s"$outDir/triples/bucket=$bucket"
    val moved = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .zipWithIndex.map { case (f, i) =>
        val name = s"$namePrefix-$i.parquet"
        java.nio.file.Files.move(f.toPath,
          new java.io.File(dir, name).toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        name
      }.toSeq
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    val nNew = moved.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/$f"),
        spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
    (moved, nNew)
  }

  /** Sampled range-bin boundaries for one column, RangePartitioner-style:
    * deterministic seed, boundaries drawn as evenly spaced order
    * statistics of a bounded sample (driver memory O(bins·64), never the
    * column). Strings sort by UTF-8 byte order to match Spark's binary
    * UTF8String comparison, so the bin of a row agrees with how `>=`
    * orders it executor-side.
    */
  private[graft] def sampleBoundaries(df: DataFrame, c: String,
                                        bits: Int): Seq[String] = {
    val nBins = 1 << bits
    val vals = df.select(col(c).cast("string")).where(col(c).isNotNull)
    val n = vals.count()
    if (n == 0) return Seq.empty
    val frac = math.min(1.0, (nBins * 64L).toDouble / n)
    val sample = vals.sample(withReplacement = false, frac, seed = 42L)
      .collect().map(_.getString(0))
    if (sample.isEmpty) return Seq.empty
    val sorted = sample.sortWith { (a, b) =>
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
    }
    (1 until nBins).map { i =>
      sorted(math.min(((i.toLong * sorted.length) / nBins).toInt,
        sorted.length - 1))
    }.distinct
  }

  /** Range-bin id of `c` against sampled `boundaries`: the count of
    * boundaries <= value, as a codegen'd aggregate over the broadcast
    * literal array — O(bins) comparisons per row, no join, no UDF.
    */
  private[graft] def rangeBin(c: String, boundaries: Seq[String]): Column =
    if (boundaries.isEmpty) lit(0L)
    else aggregate(
      typedLit(boundaries), lit(0L),
      (acc, b) => acc + when(col(c).cast("string") >= b, 1L).otherwise(0L))

  /** Morton/Z-value: interleave the low `bits` bits of each bin id so a
    * sort on the result clusters ALL dimensions at once. Built from
    * builtin bitwise ops — a static, whole-stage-codegen expression tree
    * of 2·bits·k nodes.
    */
  private[graft] def interleaveBits(bins: Seq[Column], bits: Int): Column = {
    val k = bins.length
    var z: Column = lit(0L)
    for (j <- 0 until bits; i <- 0 until k) {
      val bit = shiftright(bins(i).cast("long"), j).bitwiseAND(lit(1L))
      z = z.bitwiseOR(shiftleft(bit, j * k + (k - 1 - i)))
    }
    z
  }

  /** Z-ORDER compaction: rewrite a bucket clustered on the Morton curve
    * over `zCols`, so parquet file/row-group min-max ranges become
    * selective on EVERY z column at once — the data-layout prerequisite
    * for scan pruning at 10^12 rows (a triple store is read by subj
    * lookups AND by pred scans; a single-column sort serves only one).
    * Delta's OPTIMIZE ZORDER shape, re-expressed on this manifest layer:
    *
    *  - per column: sampled range-bin boundaries (bounded sample,
    *    broadcast as a literal array — no global sort per column, which
    *    would single-partition a window);
    *  - z-value: bit-interleave of the bin ids (codegen expression tree);
    *  - layout: `repartitionByRange(targetFiles, zval)` + sort within
    *    partitions — one range shuffle, each output file owns a
    *    contiguous z-range;
    *  - commit: a normal `rewrite` snapshot (same rows, new files), so
    *    time travel / CDC / vacuum semantics are untouched.
    */
  def compactBucketZOrder(spark: SparkSession, outDir: String, bucket: Int,
                          runId: String, zCols: Seq[String],
                          targetFiles: Int = 4, bits: Int = 8): Unit = {
    require(zCols.nonEmpty, "compactBucketZOrder: zCols must be non-empty")
    require(targetFiles >= 1 && bits >= 1 && bits * zCols.length <= 63,
      s"compactBucketZOrder: need 1 <= bits*k <= 63, got bits=$bits k=${zCols.length}")
    rewriteBucket(spark, outDir, bucket, runId, "compactBucketZOrder", "zorder", "rewrite") { df =>
      zCols.foreach(c => require(df.columns.contains(c),
        s"compactBucketZOrder: column $c not in table schema"))
      require(!df.columns.contains("__zval"),
        "compactBucketZOrder: __zval is reserved")
      // left-align each column's bins to the shared bit width: a
      // low-cardinality column (e.g. ~10 predicates vs thousands of
      // subjects) otherwise leaves its high bits zero and the curve
      // degenerates to a single-column sort — its most significant
      // EFFECTIVE bit must land at position bits-1 to interleave at the
      // same granularity as the wide column
      val bins = zCols.map { c =>
        val bnd = sampleBoundaries(df, c, bits)
        val effBits = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(
          math.max(1L, bnd.length.toLong)))
        shiftleft(rangeBin(c, bnd), bits - effBits)
      }
      (df.withColumn("__zval", interleaveBits(bins, bits))
        .repartitionByRange(targetFiles, col("__zval"))
        .sortWithinPartitions("__zval")
        .drop("__zval"), None)
    }
  }

  /** MERGE/upsert one bucket: replace the bucket's rows matching
    * `updates` on `keys` with the update rows, keep everything else, and
    * append an `upsert` snapshot — the keyed-update path an incremental
    * KG consumer needs when entity re-canonicalization rewrites old
    * triples (a new alias merges two canonical ids: every triple keyed
    * by the old id is retracted and re-inserted under the new one).
    *
    * New bucket content = (current ⟕anti updates on keys) ⊎ updates —
    * one left_anti equi-join plus a union, written as a FULL bucket
    * rewrite so as-of reads stay one manifest lookup (same latest-
    * manifest-per-bucket rule as compaction; Iceberg copy-on-write
    * MERGE, the right trade for analytical read patterns at 10^12-doc
    * scale — merge-on-read delta files would tax every downstream scan).
    *
    * Crash-safe by the compaction write order: data files first, the
    * CDC change file second, the atomic commit rename last; a pre-commit
    * death leaves only orphans that manifest reads never see. Old files
    * are retained — time travel to the pre-image works until [[vacuum]].
    *
    * CDC: the retracted pre-image rows and inserted rows are RECORDED AT
    * WRITE TIME to `_changes/` (the writer already has both sides in
    * hand — recomputing them later would mean diffing two full bucket
    * snapshots per poll) and surfaced by [[changelog]] as typed
    * delete/insert rows. `_changes/` files are never vacuumed with the
    * data files; they are the durable changelog.
    */
  def upsertBucket(spark: SparkSession, outDir: String, bucket: Int,
                   runId: String, updates: DataFrame,
                   keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "upsertBucket: keys must be non-empty")
    rewriteBucket(spark, outDir, bucket, runId, "upsertBucket", "upsert", "upsert") { old =>
      require(old.columns.sorted.sameElements(updates.columns.sorted),
        s"upsertBucket: updates schema ${updates.columns.sorted.mkString(",")} " +
          s"!= table schema ${old.columns.sorted.mkString(",")}")
      keys.foreach(k => require(old.columns.contains(k),
        s"upsertBucket: key column $k not in table schema"))
      val u = updates.select(old.columns.map(col).toIndexedSeq: _*).localCheckpoint()
      val uKeys = u.select(keys.map(col): _*).distinct()
      val retracted = old.join(uKeys, keys, "left_semi").localCheckpoint()
      // CDC pair, recorded before the commit makes the snapshot live
      (old.join(uKeys, keys, "left_anti").unionByName(u).coalesce(1),
        Some(retracted.withColumn("change_type", lit("delete"))
          .unionByName(u.withColumn("change_type", lit("insert")))))
    }
  }

  /** Typed changelog over (fromSnapshot, toSnapshot]: every row change
    * with its `change_type` ('insert' | 'delete') and `snapshot_id`.
    * Append snapshots emit their manifest rows as inserts; upsert
    * snapshots emit their recorded retract+insert pair; rewrites emit
    * nothing (same rows, new files). This is the feed for a consumer
    * that maintains a downstream mirror (index, embedding store) under
    * keyed updates — [[changesBetween]] stays the cheaper append-only
    * contract. Cost: one manifest read plus a scan of exactly the
    * changed files — no snapshot diffing.
    */
  def changelog(spark: SparkSession, outDir: String,
                fromSnapshot: Long, toSnapshot: Long): DataFrame = {
    require(fromSnapshot <= toSnapshot,
      s"changelog: from $fromSnapshot > to $toSnapshot")
    val snaps = snapshots(spark, outDir)
    if (snaps.columns.isEmpty) return spark.emptyDataFrame
    val rows = snaps.where(col("snapshot_id") > fromSnapshot &&
        col("snapshot_id") <= toSnapshot)
      .select("snapshot_id", "op", "files", "change_files").collect()
    val parts = rows.toSeq.flatMap { r =>
      val sid = r.getLong(0)
      r.getString(1) match {
        case "append" =>
          val fs = r.getSeq[String](2).map(retainedFile(outDir, sid, _))
          if (fs.isEmpty) None
          else Some(spark.read.parquet(fs: _*)
            .withColumn("change_type", lit("insert"))
            .withColumn("snapshot_id", lit(sid)))
        case "upsert" =>
          val cfs = r.getSeq[String](3).map(f => s"$outDir/$f")
          cfs.foreach(p => require(new java.io.File(p).exists(),
            s"snapshot $sid changelog file missing: $p"))
          if (cfs.isEmpty) None
          else Some(spark.read.parquet(cfs: _*)
            .withColumn("snapshot_id", lit(sid)))
        case _ => None // rewrite: same rows, new files
      }
    }
    if (parts.isEmpty) spark.emptyDataFrame
    else parts.reduce(_ unionByName _)
  }

  /** Expire history: delete every data file not referenced by the LATEST
    * manifest of its bucket. After this, time travel to superseded
    * snapshots fails loudly (their files are gone) — Iceberg's
    * expire_snapshots + remove_orphan_files in one pass. Returns the
    * number of files deleted.
    */
  def vacuum(spark: SparkSession, outDir: String): Int = {
    val snaps = snapshots(spark, outDir)
    if (snaps.columns.isEmpty) return 0
    val head = snaps.agg(max("snapshot_id")).first().getLong(0)
    val keep = manifestFiles(spark, outDir, 0L, head)
      .map(p => new java.io.File(p).getCanonicalPath).toSet
    val buckets = committedBuckets(spark, outDir)
    var deleted = 0
    for (b <- buckets.toSeq.sorted) {
      val dir = new java.io.File(s"$outDir/triples/bucket=$b")
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet") &&
          !keep.contains(f.getCanonicalPath))
        .foreach { f => if (f.delete()) deleted += 1 }
    }
    deleted
  }
}

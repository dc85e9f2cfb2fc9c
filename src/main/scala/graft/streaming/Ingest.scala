package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._

/** Structured-Streaming ingest pipeline — the Spark re-expression of the
  * reference's WAL write path (`WalWriter` → sequencer →
  * `ApplyWal2TableJob`: O3 merge, dedup, partition roll — SURVEY §3.3):
  * the micro-batch IS the WAL transaction; `applyBatch` is the apply
  * job. Durable format: time-partitioned Parquet, rows sorted by the
  * designated ts within each written file (the reference's storage
  * invariant, which keeps asof/sample-by scans merge-friendly).
  */
object Ingest {

  /** ILP lines → semi-structured DataFrame (schema-evolving: field maps
    * per type, so new fields never break the stream — projection to a
    * typed table happens per measurement downstream).
    */
  def parseIlp(lines: Dataset[String]): DataFrame = {
    import lines.sparkSession.implicits._
    lines.flatMap { l =>
      IlpParser.parse(l).map { p =>
        (
          p.measurement,
          p.tags,
          p.fields.collect { case (k, IlpParser.F64(v)) => k -> v },
          p.fields.collect { case (k, IlpParser.I64(v)) => k -> v },
          p.fields.collect { case (k, IlpParser.Str(v)) => k -> v },
          p.fields.collect { case (k, IlpParser.Bool(v)) => k -> v },
          p.tsNanos.getOrElse(-1L))
      }
    }.toDF("measurement", "tags", "f_double", "f_long", "f_string", "f_bool", "ts_nanos")
      .withColumn("ts",
        when(col("ts_nanos") >= 0, timestamp_micros(expr("ts_nanos div 1000"))))
      // full wire precision survives as BIGINT nanos (reference keeps a
      // TIMESTAMP_NS designated column; Spark's TimestampType is micros)
      .withColumn("ts_ns", when(col("ts_nanos") >= 0, col("ts_nanos")))
      .drop("ts_nanos")
  }

  private def batchMarker(tableDir: String, batchId: Long): java.io.File = {
    val fs = new java.io.File(s"$tableDir/_graft_batches")
    fs.mkdirs()
    new java.io.File(fs, s"batch-$batchId")
  }

  private def stagingDir(tableDir: String, batchId: Long): java.io.File =
    new java.io.File(s"$tableDir/_graft_staging/batch-$batchId")

  private def deleteRecursive(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursive)
    f.delete()
  }

  private def dataFiles(dir: java.io.File): Array[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty).filter(_.isFile)

  private def stagedDays(staging: java.io.File): Array[java.io.File] =
    Option(staging.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("__day=")).sortBy(_.getName)

  /** Sort within `__day` partitions by ts and write them under `dir`: one
    * file per day per input partition.
    */
  private def write(rows: DataFrame, dir: String, tsCol: String): Unit =
    rows.sortWithinPartitions(col("__day"), col(tsCol))
      .write.mode("overwrite").partitionBy("__day").parquet(dir)

  /** Move staged `__day=*` files into the table as
    * `graft-b<batchId>-<staged name>`, after deleting the day's files that
    * `keep` rejects. A target name depends only on its staged name, so a
    * publish cut short by a crash resumes from the files still staged
    * without overwriting the ones it already moved.
    */
  private def publishStaged(staging: java.io.File, tableDir: String, batchId: Long,
                            keep: java.io.File => Boolean): Unit =
    stagedDays(staging).foreach { p =>
      val target = new java.io.File(tableDir, p.getName)
      target.mkdirs()
      dataFiles(target).filterNot(keep).foreach(_.delete())
      p.listFiles().filter(_.getName.startsWith("part-")).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          new java.io.File(target, s"graft-b$batchId-${f.getName}").toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }

  private def ownFile(batchId: Long)(f: java.io.File): Boolean =
    f.getName.startsWith(s"graft-b$batchId-")

  // ---- dirty-range tracking (consumed by MatView.refresh) -----------
  // The reference's mat-view refresh walks WAL txn ranges to find which
  // time buckets a transaction touched (`WalTxnRangeLoader.java`); the
  // parquet-table analogue is a marker file per day partition touched
  // since the last refresh. O(partitions-touched), no data scan.

  private def dirtyDir(tableDir: String): java.io.File =
    new java.io.File(s"$tableDir/_graft_dirty")

  private[streaming] def markDirty(tableDir: String, days: Iterable[String]): Unit = {
    val d = dirtyDir(tableDir); d.mkdirs()
    days.foreach(day => new java.io.File(d, day).createNewFile())
  }

  /** Days with unconsumed changes, as `yyyy-MM-dd` strings. */
  def dirtyDays(tableDir: String): Seq[String] =
    Option(dirtyDir(tableDir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).sorted.toSeq

  /** Consume markers once a refresh has incorporated them. */
  def clearDirty(tableDir: String, days: Seq[String]): Unit =
    days.foreach(day => new java.io.File(dirtyDir(tableDir), day).delete())

  /** Apply one micro-batch to a table directory:
    *  1. idempotency guard (batch marker),
    *  2. DEDUP UPSERT KEYS(ts, keys...) within the batch,
    *  3. sort by ts within day partitions (O3 merge-on-write analogue),
    *  4. stage to `_graft_staging/batch-<id>`, then publish with
    *     batch-stamped file names (exactly-once under retries: a crash
    *     anywhere — mid-stage, mid-publish, or between publish and
    *     marker — converges on replay because staging is overwritten and
    *     the publish step first removes this batch's earlier files).
    * Late (out-of-order) rows land in their own (older) day partition —
    * nothing is dropped, matching the reference's O3 semantics.
    */
  def applyBatch(batch: DataFrame, batchId: Long, tableDir: String,
                 tsCol: String, dedupKeys: Seq[String]): Unit = {
    val deduped =
      if (dedupKeys.isEmpty) batch
      else batch.dropDuplicates(tsCol +: dedupKeys)
    append(withDay(deduped, tsCol).repartition(col("__day")), batchId, tableDir, tsCol)
  }

  private def withDay(batch: DataFrame, tsCol: String): DataFrame =
    batch.withColumn("__day", to_date(col(tsCol)))

  /** [[applyBatch]] for rows that already carry `__day` and are laid out
    * as they should be written (the ILP path passes one driver-built
    * partition, so the write is one job with no shuffle).
    */
  private[streaming] def append(rows: DataFrame, batchId: Long, tableDir: String,
                                tsCol: String): Unit = {
    val marker = batchMarker(tableDir, batchId)
    if (marker.exists()) return // retried batch — already applied
    val staging = stagingDir(tableDir, batchId)
    write(rows, staging.getPath, tsCol)
    val touched = stagedDays(staging).map(_.getName.stripPrefix("__day="))
    publishStaged(staging, tableDir, batchId, keep = f => !ownFile(batchId)(f))
    markDirty(tableDir, touched)
    marker.createNewFile()
    deleteRecursive(staging)
  }

  /** Cross-batch DEDUP UPSERT KEYS(ts, keys...): the reference dedups an
    * incoming txn against rows already IN the table
    * (`cairo/TableWriter.java:342`, `dedup.cpp`). Spark analogue of a
    * Delta MERGE on plain parquet: read only the day partitions the
    * batch touches, drop old rows whose (ts, keys) the batch carries,
    * and rewrite those partitions with old+new merged and re-sorted.
    * Cost is bounded by the touched partitions, not the table. The
    * batch's (ts, keys) and days are collected to the driver (bounded:
    * one micro-batch); see [[upsert]].
    */
  def upsertBatch(batch: DataFrame, batchId: Long, tableDir: String,
                  tsCol: String, dedupKeys: Seq[String]): Unit = {
    if (batchMarker(tableDir, batchId).exists()) return
    val incoming = withDay(batch.dropDuplicates(tsCol +: dedupKeys), tsCol)
    val ids = incoming.select((tsCol +: dedupKeys :+ "__day").map(col): _*).collect()
    val keyIdx = dedupKeys.indices.map(_ + 1)
    upsert(incoming, ids.map(rowKey(_, 0, keyIdx)).toSet,
      ids.map(_.get(dedupKeys.size + 1).toString).distinct.toSeq,
      batchId, tableDir, tsCol, dedupKeys)
  }

  /** A row's DEDUP identity: ts as micros, then the key values. */
  private[streaming] def rowKey(r: Row, tsIdx: Int, keyIdx: Seq[Int]): Seq[Any] =
    DateTimeUtils.anyToMicros(r.get(tsIdx)) +: keyIdx.map(r.get)

  /** The merge of [[upsertBatch]] for a batch already deduped within
    * itself, given its `__day` column, its `(ts micros, keys...)`
    * identities and the days it touches. Old rows of those days whose
    * identity is in `keys` are dropped (a null key never matches, as in
    * an equi-join), and the merged days are written to
    * `_graft_staging/batch-<id>` in one job: one sorted file per day.
    * Spark's `_SUCCESS` marks that copy durable; the publish then
    * replaces each day's files with the staged ones. A replay after a
    * crash before `_SUCCESS` merges again from the untouched table; after
    * it, the replay finishes the publish from the staged copy, keeping
    * the files of this batch that were already moved.
    */
  private[streaming] def upsert(incoming: DataFrame, keys: Set[Seq[Any]], days: Seq[String],
                                batchId: Long, tableDir: String, tsCol: String,
                                dedupKeys: Seq[String]): Unit = {
    val marker = batchMarker(tableDir, batchId)
    if (marker.exists()) return
    val staging = stagingDir(tableDir, batchId)
    val staged = new java.io.File(staging, "_SUCCESS").exists()
    if (!staged) {
      val existingDirs = days.map(d => new java.io.File(tableDir, s"__day=$d"))
        .filter(d => dataFiles(d).exists(_.getName.endsWith(".parquet"))).map(_.getPath)
      val merged =
        if (existingDirs.isEmpty) incoming
        else {
          val existing = incoming.sparkSession.read
            .option("basePath", tableDir).parquet(existingDirs: _*)
          val tsIdx = existing.schema.fieldIndex(tsCol)
          val keyIdx = dedupKeys.map(existing.schema.fieldIndex)
          existing.filter { (r: Row) =>
            val k = rowKey(r, tsIdx, keyIdx)
            k.contains(null) || !keys(k)
          }.unionByName(incoming)
        }
      write(merged.coalesce(1), staging.getPath, tsCol)
    }
    // a fresh staged copy holds every row of its days, this batch's
    // earlier files included; a resumed one keeps what it already moved
    publishStaged(staging, tableDir, batchId, keep = f => staged && ownFile(batchId)(f))
    markDirty(tableDir, days)
    marker.createNewFile()
    deleteRecursive(staging)
  }

  /** Wire a parsed+projected stream into a table with WAL semantics. */
  def writeStreamTo(df: DataFrame, tableDir: String, checkpoint: String,
                    tsCol: String, dedupKeys: Seq[String]) =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        applyBatch(b, id, tableDir, tsCol, dedupKeys)
      }

  /** TTL retention (reference `TTL n HOURS/DAYS` partition eviction,
    * `TableWriter.java:3589`): drop day partitions strictly older than
    * the horizon. Directory-level deletes — O(partitions), no data scan.
    */
  def applyTtl(tableDir: String, keepDays: Int, today: java.time.LocalDate): Int = {
    val cutoff = today.minusDays(keepDays.toLong)
    val dirs = Option(new java.io.File(tableDir).listFiles()).getOrElse(Array.empty)
    val victims = dirs.filter { d =>
      d.isDirectory && d.getName.startsWith("__day=") &&
        java.time.LocalDate.parse(d.getName.stripPrefix("__day=")).isBefore(cutoff)
    }
    victims.foreach { d =>
      d.listFiles().foreach(_.delete()); d.delete()
    }
    victims.length
  }

  /** Incrementally-refreshed materialized view (reference
    * `MatViewRefreshJob`): a streaming SAMPLE BY — watermarked window
    * aggregation. Late rows inside the watermark update their bucket;
    * `outputMode("update")`/foreachBatch-merge on the sink side.
    */
  def sampleByMatView(stream: DataFrame, tsCol: String, bucket: String,
                      keys: Seq[String], aggs: Seq[(String, org.apache.spark.sql.Column)],
                      watermark: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), bucket).getField("start").as("ts") +: keys.map(col): _*)
      .agg(aggs.head._2.as(aggs.head._1), aggs.tail.map { case (n, c) => c.as(n) }: _*)
}

package graft.flights

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Batch-incremental ingestion (SURVEY.md §2.1, I-1..I-13): CSV ->
  * staging parquet with a persistent content-hash dedup ledger and an
  * offset state file, replicating the reference's incremental contract
  * (ingestion.py:18-129) exactly:
  *
  *  - I-1  line count scan to detect growth
  *  - I-2/I-3  offset state read + shrink-reset detection
  *  - I-4  early exit when no new rows
  *  - I-5  resume from offset (the 10k-row chunk loop disappears —
  *         partitioned scans bound memory instead)
  *  - I-10 row content hash (md5 over a canonical concat; the ledger
  *         contract is "identical row <=> identical hash", not pandas'
  *         str(tuple(...)) formatting — SURVEY §7.3(1))
  *  - I-11 dedup probe as ONE distributed left-anti join (the
  *         reference's per-chunk IN-list round-trips collapse)
  *  - I-7/I-8  staging write (overwrite on first load, else append) +
  *         ledger append
  *  - I-9  offset state write
  *
  * There is ONE commit protocol (see [[ingest]]): the single-file API
  * runs it under the reference's singleton state, and
  * [[ingestDirectory]] runs it once per file under that file's own
  * state key. The designed-for-scale path is
  * [[graft.streaming.StreamingIngest]] (file-source checkpointing
  * subsumes this offset machinery); this class exists for exact
  * reference parity and for files that grow in place.
  */
class FlightIngest(spark: SparkSession, root: String) {
  import FlightIngest._

  def stagingPath: String = s"$root/staging"
  def ledgerPath: String  = s"$root/ledger"

  /** State files of one resume contract. `key` is None for the
    * single-file API (the reference's singleton state paths) and
    * `Some(fileKey(name))` under [[ingestDirectory]], so each file
    * carries its own independent offset and intent marker. */
  private def keySuffix(key: Option[String]) = key.map("__" + _).getOrElse("")
  private def statePath(key: Option[String]) =
    Paths.get(s"$root/state/flight_csv_offset${keySuffix(key)}")
  private def inflightPath(key: Option[String]) =
    Paths.get(s"$root/state/flight_inflight${keySuffix(key)}")

  /** I-2: Airflow `Variable.get("flight_csv_offset", 0)` equivalent. */
  def offset: Long = readOffset(None)

  private def readOffset(key: Option[String]): Long =
    if (Files.exists(statePath(key)))
      new String(Files.readAllBytes(statePath(key)), StandardCharsets.UTF_8).trim.toLong
    else 0L

  private def writeOffset(key: Option[String], v: Long): Unit = {
    Files.createDirectories(statePath(key).getParent)
    Files.write(statePath(key), v.toString.getBytes(StandardCharsets.UTF_8))
  }

  def ledger: DataFrame =
    if (StarWarehouse.pathExists(spark, ledgerPath))
      spark.read.schema(FlightSchemas.ledger).parquet(ledgerPath)
        .drop("ingest_batch")
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], FlightSchemas.ledger)

  def staging: DataFrame =
    spark.read.schema(FlightSchemas.staging).parquet(stagingPath)
      .drop("ingest_batch")

  /** I-10: canonical row hash (shared definition — see
    * FlightSchemas.rowHashColumn). */
  def rowHash(df: DataFrame): DataFrame =
    df.withColumn("row_hash", FlightSchemas.rowHashColumn(df.columns.toIndexedSeq))

  /** The batch offset contract ("resume at data row N") is defined by
    * ONE file's row order — the reference's contract too
    * (ingestion.py:16 hard-codes a single CSV path). Across multiple
    * files there is no stable global row order (Spark splits and
    * lists files in no contractual sequence), so a glob/directory
    * input would make the persisted offset silently ambiguous.
    * Reject it loudly: a directory that only gains fresh files is the
    * streaming path's job ([[graft.streaming.StreamingIngest]] tracks
    * per-FILE progress in its checkpoint, which is the correct unit);
    * files that grow in place go through [[ingestDirectory]]. */
  private def requireSingleFile(csvPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(csvPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Option(fs.globStatus(p)).getOrElse(Array.empty).flatMap { st =>
      if (st.isDirectory)
        fs.listStatus(st.getPath).filter(_.isFile)
          .filterNot(s => s.getPath.getName.startsWith("_") ||
            s.getPath.getName.startsWith("."))
      else Array(st)
    }
    require(files.length == 1,
      s"FlightIngest.ingest requires exactly one CSV file; '$csvPath' resolves to " +
        s"${files.length} files. The row-offset resume contract has no defined " +
        "order across files — for a directory that only gains fresh files use " +
        "graft.streaming.StreamingIngest (per-file exactly-once via its " +
        "checkpoint); for files that grow in place use ingestDirectory " +
        "(per-file offset state, file-name order).")
  }

  /** Batch commit protocol (VERDICT r3 #3 — the streaming path's
    * marked-increment pattern applied to the batch path). The two
    * reference crash windows this closes (both previously pinned as
    * parity at this spot):
    *
    *  (a) crash between the staging write and the ledger append
    *      re-appended the batch on retry (duplicate staging rows);
    *  (b) first-load crash after the ledger append but before the
    *      offset write, with the file growing while down: the retry's
    *      off==0 overwrite rebuilt staging from the NEW rows only,
    *      losing the staged batch.
    *
    * Mechanism — each batch is one marked, idempotently re-runnable
    * increment:
    *
    *  1. INTENT marker first. Before any data write, the batch's
    *     extent (seq, off, end) is recorded in `state/flight_inflight`.
    *     A retry that finds a marker matching its offset re-runs
    *     EXACTLY the recorded extent — even if the file grew in
    *     between — so the recomputed batch is bit-identical to the
    *     crashed one (same file rows, same hashes). This closes (b):
    *     the retry's anti-join finds every hash already ledgered,
    *     leaves staging intact, and only then advances the offset;
    *     the grown tail becomes the NEXT batch in the same call.
    *  2. Partition-keyed idempotent writes. Staging and ledger rows
    *     carry `ingest_batch = seq` (a sequence unique across file
    *     replaces, max existing partition + 1), and both writes are
    *     dynamic-partition OVERWRITES of exactly that partition — a
    *     retry REPLACES the crashed attempt's rows instead of
    *     appending beside them. This closes (a). The reference's
    *     replace-on-first-load contract (I-7) is kept: off == 0 is a
    *     full overwrite (new file => staging rebuilt).
    *  3. Commit order: staging -> ledger -> offset -> clear marker.
    *     Every prefix crash re-runs idempotently; after the ledger
    *     write the batch is logically committed (a retry computes
    *     freshCount == 0 and just advances the offset).
    *
    * The ledger is still global-forever across file replaces (its
    * partitions are never full-overwritten), and an ingest() call
    * still drains the file: a resumed crashed batch and the file's
    * grown tail are committed as separate increments in one call. */
  def ingest(csvPath: String): IngestResult = {
    requireSingleFile(csvPath)
    ingestFile(csvPath, None)
  }

  /** Directory form: every `*.csv` in `dir`, in file-name order, runs
    * the single-file protocol above under its own state key — offset
    * resume, intent marker and growth drain are all per file. The
    * single-file offset contract is never stretched across files (the
    * ambiguity [[requireSingleFile]] rejects); the ledger, staging and
    * seq are the shared sinks they already are, so rows duplicated
    * ACROSS files dedup exactly like rows duplicated across time.
    * Idempotent: a re-run finds every per-file offset at EOF and
    * early-exits. New files between runs simply join in (their state
    * starts at 0). A directory that only ever gains fresh files is
    * better served by [[graft.streaming.StreamingIngest]] (one drain,
    * per-file exactly-once through its checkpoint). Returns totals;
    * `newOffset` is the last file's offset (offsets are per-file
    * state, not a meaningful sum). */
  def ingestDirectory(dir: String): IngestResult = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p) && fs.getFileStatus(p).isDirectory,
      s"ingestDirectory requires a directory; got '$dir'")
    val files = fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.toLowerCase.endsWith(".csv"))
      .sortBy(_.getPath.getName)
    require(files.nonEmpty, s"no *.csv files under '$dir'")
    files.foldLeft(IngestResult(0, 0, 0)) { (total, f) =>
      add(total, ingestFile(f.getPath.toString, Some(fileKey(f.getPath.getName))))
    }
  }

  /** Drains one file under the state key `key`: a resumed batch was
    * pinned to the crashed extent, so the file may hold a tail beyond
    * it — that tail is committed as a fresh batch in the same call. */
  private def ingestFile(csvPath: String, key: Option[String]): IngestResult = {
    var total = IngestResult(0, 0, readOffset(key))
    var again = true
    while (again) {
      val (r, resumed) = ingestBatch(csvPath, key)
      total = add(total, r)
      again = resumed && r.rowsScanned > 0
    }
    total
  }

  private def add(a: IngestResult, b: IngestResult): IngestResult =
    IngestResult(a.rowsScanned + b.rowsScanned, a.rowsLoaded + b.rowsLoaded, b.newOffset)

  private def ingestBatch(csvPath: String, key: Option[String]): (IngestResult, Boolean) = {
    // I-1: raw line count (includes header, like the reference's rb scan)
    val lineCount = spark.read.text(csvPath).count()
    var off = readOffset(key)
    // I-3: file shrank => new file, reset. PINNED REFERENCE BUG
    // (ingestion.py:41: `if total_lines < offset`): lineCount includes
    // the header while the offset counts data rows, so a file that
    // shrinks by exactly one data row gives lineCount == off — the
    // reset is skipped and the replaced file's tail is never ingested.
    // Replicated deliberately for offset-state parity; the fix would be
    // `lineCount - 1 < off`.
    if (lineCount < off) {
      off = 0
      // the marker (if any) pins an extent of the REPLACED file; the
      // new file's rows at those positions are different data, so
      // resuming it would commit wrong rows under a committed batch's
      // seq (overwriting its ledger partition). Shrink-reset kills it.
      clearInflight(key)
    }
    // resume iff an intent marker pins an unfinished extent at OUR
    // offset that FITS the current file; markers from other offsets
    // (superseded by a completed commit) are dead and get overwritten,
    // and an extent past the current EOF means the file was replaced
    // under an offset-0 marker (no shrink signal exists at off == 0) —
    // also dead, the replacement is a fresh first load. The EOF check
    // alone only catches SHORTER replacements (ADVICE r4): a
    // replacement file as long as or longer than the pinned extent
    // would be resumed and its different rows committed under the
    // crashed batch's seq — so the marker also carries a content
    // fingerprint of the extent's first data line, verified here. On
    // a mismatch the marker is dead AND the crashed attempt's staging
    // partition (if any, and only if its ledger partition is absent —
    // i.e. the batch never logically committed) is dropped so the
    // fresh first-load of the replacement cannot double-count.
    val resume = readInflight(key).filter { m =>
      val fits = m.off == off && m.end > off && m.end <= lineCount - 1
      // legacy (3-field) markers carry no fingerprint — forall passes
      // them on the fits check alone, the pre-fingerprint behavior
      val alive = fits && m.headHash.forall(_ == extentHeadHash(csvPath, m.off))
      if (fits && !alive) { dropUncommittedStaging(m.seq); clearInflight(key) }
      alive
    }
    val end = resume.map(_.end).getOrElse(lineCount - 1)
    // I-4: early exit
    val rowsToProcess = end - off
    if (rowsToProcess <= 0) { clearInflight(key); return (IngestResult(0, 0, off), false) }
    val seq = resume.map(_.seq).getOrElse(nextBatchSeq())
    // on a resume the marker on disk already records exactly this
    // extent — do NOT rewrite it (a crash mid-rewrite would tear the
    // file AFTER the crashed attempt's partitions exist; the torn
    // marker then reads as fresh-batch and a new seq would duplicate
    // the extent's rows beside the orphaned partition)
    if (resume.isEmpty)
      writeInflight(key, Inflight(seq, off, end, Some(extentHeadHash(csvPath, off))))

    // I-5: header-aware resume — skip data rows outside [off, end) in
    // file order. zipWithIndex preserves file order for a single CSV
    // file (the reference's contract is also a single growing file).
    val raw = spark.read.schema(FlightSchemas.rawCsv)
      .option("header", true).csv(csvPath)
    val batch: DataFrame =
      if (off == 0 && end == lineCount - 1) raw
      else {
        val rdd = raw.rdd.zipWithIndex()
          .filter { case (_, i) => i >= off && i < end }.map(_._1)
        spark.createDataFrame(rdd, FlightSchemas.rawCsv)
      }

    // I-10 + intra-batch dedup (identical rows share a hash, so
    // dropDuplicates on the hash is deterministic in effect).
    val hashed = rowHash(batch).dropDuplicates("row_hash")
    // I-11: one distributed anti-join replaces per-chunk IN-probes.
    val fresh = hashed.join(ledger.select("row_hash"), Seq("row_hash"), "left_anti")
      .cache()
    val freshCount = fresh.count()

    // I-13 rename + I-12 drop helper column, then I-7 staging write.
    // Staging is touched ONLY when the deduped batch is non-empty,
    // exactly as the reference skips to_sql for an empty chunk
    // (ingestion.py:117-119): a fully-committed batch whose retry
    // recomputes freshCount == 0 leaves staging INTACT and only
    // advances the offset. Consequence on a shrink-reset whose "new"
    // file is all already-seen rows: stale staging rows from the
    // replaced file remain and V-3 alarms on source != staging — the
    // reference behaves identically there (global-forever ledger).
    val renamed = FlightSchemas.renameToStaging(fresh.drop("row_hash"))
    if (freshCount > 0) {
      val staged = renamed.withColumn("ingest_batch", lit(seq))
        .write.partitionBy("ingest_batch").mode(SaveMode.Overwrite)
      // I-7 replace semantics apply to the SINGLETON contract only: in
      // directory mode (key set) staging holds other files'
      // partitions, which a static overwrite would silently wipe — a
      // later file's first load must land beside them, not replace
      // them. Consequence: a file REPLACED in place keeps its old rows
      // under their old seqs (same documented residue as the all-seen
      // shrink reset; V-3 alarms, compaction is the cleanup path).
      if (off == 0 && key.isEmpty) staged.parquet(stagingPath)
      else staged.option("partitionOverwriteMode", "dynamic").parquet(stagingPath)
      afterStagingWrite() // crash-injection seam (no-op in production)
      // I-8: ledger append with load timestamp — as an idempotent
      // overwrite of this batch's own partition.
      fresh.select(col("row_hash"))
        .withColumn("load_timestamp", current_timestamp())
        .withColumn("ingest_batch", lit(seq))
        .write.partitionBy("ingest_batch")
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite).parquet(ledgerPath)
      afterLedgerWrite() // crash-injection seam (no-op in production)
    }
    fresh.unpersist()
    // I-9: offset advances by rows *scanned* (incl. dupes), as in the
    // reference (ingestion.py:126: offset + rows_processed).
    writeOffset(key, end)
    clearInflight(key)
    (IngestResult(rowsToProcess, freshCount, end), resume.isDefined)
  }

  /** Crash-injection seams for the IngestSpec torn-commit tests: a
    * test subclass overrides one to throw mid-protocol. Production
    * no-ops (and monomorphic, so the JIT erases them). */
  protected def afterStagingWrite(): Unit = ()
  protected def afterLedgerWrite(): Unit = ()

  /** Per-file state key: the URL-encoded file name. Injective (no two
    * names share a key, so no file can resume at another's offset), and
    * names made only of `[A-Za-z0-9._*-]` map to themselves. */
  private def fileKey(name: String): String =
    java.net.URLEncoder.encode(name, StandardCharsets.UTF_8)

  // ---- intent-marker state -------------------------------------------

  /** `headHash` is None for a LEGACY marker (the pre-fingerprint
    * 3-field format): it still pins its extent and resumes under its
    * original seq — parsing it as "no marker" would let a new seq
    * re-cover the extent beside the orphaned staging partition, the
    * exact duplication the marker exists to prevent — but the
    * content-fingerprint check is skipped (the data to verify against
    * was never recorded). */
  private case class Inflight(seq: Long, off: Long, end: Long, headHash: Option[Long])

  /** Content fingerprint of the first data line of the extent starting
    * at data-row offset `off` — file line `off + 1` (line 0 is the
    * header). A replacement file that passes the length checks but
    * holds different data is caught here: it would have to reproduce
    * the original's exact bytes at that position to slip through,
    * which is no longer "any same-or-longer file" but a deliberate
    * byte-identical prefix (at that point the rows being committed ARE
    * the pinned rows). One distributed pass over the file, same cost
    * class as the lineCount scan this batch already paid. */
  private def extentHeadHash(csvPath: String, off: Long): Long = {
    val target = off + 1
    val line = spark.read.text(csvPath).rdd.zipWithIndex()
      .filter(_._2 == target).map(_._1.getString(0)).collect()
    line.headOption.map(l =>
      scala.util.hashing.MurmurHash3.stringHash(l).toLong).getOrElse(0L)
  }

  /** Drop the staging partition of a dead marker's seq iff that batch
    * never logically committed (no ledger partition): the partition
    * holds rows of a file that no longer exists and the retry will
    * re-cover the extent from the replacement under a new seq. A
    * COMMITTED batch (ledger partition present) is kept — its rows
    * were real data when committed and the ledger already dedups any
    * surviving identical rows on the retry. */
  private def dropUncommittedStaging(seq: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def part(root: String) = new org.apache.hadoop.fs.Path(s"$root/ingest_batch=$seq")
    val ledgerPart = part(ledgerPath)
    val stagingPart = part(stagingPath)
    val fs = stagingPart.getFileSystem(conf)
    if (!fs.exists(ledgerPart) && fs.exists(stagingPart))
      fs.delete(stagingPart, true)
  }

  private def readInflight(key: Option[String]): Option[Inflight] =
    if (!Files.exists(inflightPath(key))) None
    else new String(Files.readAllBytes(inflightPath(key)), StandardCharsets.UTF_8)
      .trim.split(':') match {
        case Array(s, o, e, h) =>
          Some(Inflight(s.toLong, o.toLong, e.toLong, Some(h.toLong)))
        case Array(s, o, e) => // legacy pre-fingerprint marker: resume
          Some(Inflight(s.toLong, o.toLong, e.toLong, None))
        case _ => None // torn marker write: treat as absent (fresh batch)
      }

  /** Atomic via temp-file + rename: a crash mid-write must never leave
    * a torn marker (it would read as "no marker" and a retry would
    * re-run the extent under a NEW seq beside the old partitions). */
  private def writeInflight(key: Option[String], m: Inflight): Unit = {
    val path = inflightPath(key)
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.write(tmp,
      s"${m.seq}:${m.off}:${m.end}:${m.headHash.getOrElse(0L)}".getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, path,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def clearInflight(key: Option[String]): Unit =
    Files.deleteIfExists(inflightPath(key))

  /** Next batch sequence: one past the highest `ingest_batch=` partition
    * either sink has ever committed (ledger partitions are never
    * removed, so the sequence never repeats across file replaces —
    * a staging full-overwrite cannot make an old seq reusable). */
  private def nextBatchSeq(): Long = {
    def maxPart(path: String): Long = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) -1L
      else fs.listStatus(p).collect {
        case s if s.isDirectory && s.getPath.getName.startsWith("ingest_batch=") =>
          s.getPath.getName.stripPrefix("ingest_batch=").toLong
      }.foldLeft(-1L)(math.max)
    }
    math.max(maxPart(stagingPath), maxPart(ledgerPath)) + 1L
  }
}

object FlightIngest {
  case class IngestResult(rowsScanned: Long, rowsLoaded: Long, newOffset: Long)
}

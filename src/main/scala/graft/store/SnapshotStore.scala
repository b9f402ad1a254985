package graft.store

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Iceberg-style snapshot-committed tables over partitioned Parquet.
  *
  * The north rule asks for Iceberg tables; no Iceberg jar ships in this
  * environment (SURVEY.md §7.4), so this layer reproduces the parts of the
  * spec the pipeline depends on — atomic snapshot commits, a snapshot log,
  * per-partition lineage, reader isolation, resume — over plain Parquet +
  * JSON manifests. Swapping in real Iceberg replaces only this file.
  *
  * Layout:
  * {{{
  *   <root>/<table>/data/batch=<batchId>/part-*.parquet   (data files)
  *   <root>/<table>/_snapshots/v<N>.json                  (snapshot manifest)
  *   <root>/<table>/_snapshots/LATEST                     (atomic pointer)
  * }}}
  *
  * A snapshot manifest lists EVERY live batch directory (full snapshot, like
  * an Iceberg manifest list), its parent snapshot id, and the set of input
  * partitions already ingested. Commit protocol: write data → write
  * v<N>.json to a temp name → rename (atomic on a real FS) → overwrite
  * LATEST via temp+rename. A killed run leaves either no new snapshot (data
  * files are orphans, invisible to readers) or a complete one — this is the
  * distributed analog of the reference's checkpoint/restore
  * (src/qortex/core/memory.py:446-494) and its manifest auto-save recovery
  * (src/qortex/cli/ingest.py:210-222).
  */
object SnapshotStore {
  final case class Snapshot(
      id: Long,
      parent: Long, // -1 for the first snapshot
      batches: Seq[String], // live data batch dirs, relative to <table>/data
      inputPartitions: Seq[String] // all input partitions ingested so far
  )
}

final class SnapshotStore(val root: String)(implicit spark: SparkSession) {
  import SnapshotStore.Snapshot

  private val hadoopConf = spark.sparkContext.hadoopConfiguration

  private def fs(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  private def tableDir(table: String) = new Path(root, table)
  private def dataDir(table: String) = new Path(tableDir(table), "data")
  private def snapDir(table: String) = new Path(tableDir(table), "_snapshots")

  // --- tiny JSON codec (flat schema; no external deps) ---
  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def toJson(s: Snapshot): String = {
    val b = s.batches.map(x => "\"" + esc(x) + "\"").mkString("[", ",", "]")
    val p = s.inputPartitions.map(x => "\"" + esc(x) + "\"").mkString("[", ",", "]")
    s"""{"id":${s.id},"parent":${s.parent},"batches":$b,"input_partitions":$p}"""
  }

  /** Single left-to-right unescape pass: handles \\, \", \n, \r, \t and
    * \uXXXX (everything esc() can emit) without the order-sensitivity of
    * chained replace calls.
    */
  private[store] def unescape(s: String): String = {
    val b = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => b.append('"'); i += 2
          case '\\' => b.append('\\'); i += 2
          case 'n' => b.append('\n'); i += 2
          case 'r' => b.append('\r'); i += 2
          case 't' => b.append('\t'); i += 2
          case 'u' if i + 5 < s.length =>
            b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case other => b.append(other); i += 2
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  private def fromJson(j: String): Snapshot = {
    def longField(name: String): Long =
      s""""$name"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(j).map(_.group(1).toLong)
        .getOrElse(sys.error(s"snapshot manifest missing $name: $j"))
    def arrField(name: String): Seq[String] = {
      val m = (s""""$name"\\s*:\\s*\\[(.*?)\\]""").r.findFirstMatchIn(j)
        .getOrElse(sys.error(s"snapshot manifest missing $name"))
      val body = m.group(1).trim
      if (body.isEmpty) Seq.empty
      else "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(body).map(mm => unescape(mm.group(1))).toSeq
    }
    Snapshot(longField("id"), longField("parent"), arrField("batches"), arrField("input_partitions"))
  }

  /** Overwrite-rename (no delete-before-rename window): FileContext.rename
    * with OVERWRITE is atomic on a real FS, so the target always holds
    * either the old or the new content. Even if a crash were to leave no
    * LATEST, `latest()` recovers from the max v<N>.json manifest.
    */
  private def writeAtomic(path: Path, content: String): Unit = {
    val tmp = new Path(path.getParent, path.getName + ".tmp-" + System.nanoTime())
    val f = fs(path)
    val out = f.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val ctx = org.apache.hadoop.fs.FileContext.getFileContext(path.toUri, hadoopConf)
    ctx.rename(tmp, path, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def readFile(path: Path): String = {
    val f = fs(path)
    val in = f.open(path)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Ids of all retained snapshot manifests, ascending. */
  def snapshotIds(table: String): Seq[Long] = {
    val d = snapDir(table)
    val f = fs(d)
    if (!f.exists(d)) Seq.empty
    else
      f.listStatus(d).toSeq
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
          n.stripPrefix("v").stripSuffix(".json")
        }
        .flatMap(s => scala.util.Try(s.toLong).toOption)
        .sorted
  }

  /** A specific retained snapshot (time travel read target). */
  def snapshot(table: String, id: Long): Option[Snapshot] = {
    val p = new Path(snapDir(table), s"v$id.json")
    if (fs(p).exists(p)) Some(fromJson(readFile(p))) else None
  }

  /** Latest committed snapshot, if any. If the LATEST pointer is missing
    * (e.g. a crash in an older delete-before-rename writer), recover from
    * the max v<N>.json manifest instead of treating the table as empty —
    * otherwise snapshot ids would restart at 0 and overwrite batch=00000.
    */
  def latest(table: String): Option[Snapshot] = {
    val latestPtr = new Path(snapDir(table), "LATEST")
    val f = fs(latestPtr)
    if (f.exists(latestPtr)) {
      val n = readFile(latestPtr).trim.toLong
      Some(fromJson(readFile(new Path(snapDir(table), s"v$n.json"))))
    } else snapshotIds(table).lastOption.flatMap(snapshot(table, _))
  }

  /** Input partitions already ingested per the latest snapshot — resume
    * diffs the input against this set and processes only the remainder.
    */
  def ingestedPartitions(table: String): Set[String] =
    latest(table).map(_.inputPartitions.toSet).getOrElse(Set.empty)

  /** Append a batch of rows for `inputPartitions` and commit a snapshot.
    * The write is invisible to readers until LATEST flips.
    */
  def commitAppend(table: String, df: DataFrame, inputPartitions: Seq[String]): Snapshot = {
    val prev = latest(table)
    val nextId = prev.map(_.id + 1).getOrElse(0L)
    val batchName = f"batch=$nextId%05d"
    val batchPath = new Path(dataDir(table), batchName)

    df.write.mode(SaveMode.Overwrite).parquet(batchPath.toString)

    val snap = Snapshot(
      id = nextId,
      parent = prev.map(_.id).getOrElse(-1L),
      batches = prev.map(_.batches).getOrElse(Seq.empty) :+ batchName,
      inputPartitions =
        (prev.map(_.inputPartitions).getOrElse(Seq.empty) ++ inputPartitions).distinct)

    val f = fs(snapDir(table))
    if (!f.exists(snapDir(table))) f.mkdirs(snapDir(table))
    writeAtomic(new Path(snapDir(table), s"v$nextId.json"), toJson(snap))
    writeAtomic(new Path(snapDir(table), "LATEST"), nextId.toString)
    snap
  }

  /** Replace table contents wholesale (for derived tables rebuilt per
    * snapshot, e.g. concepts after canonicalization).
    */
  def commitReplace(table: String, df: DataFrame, inputPartitions: Seq[String]): Snapshot = {
    val prev = latest(table)
    val nextId = prev.map(_.id + 1).getOrElse(0L)
    val batchName = f"batch=$nextId%05d"
    df.write.mode(SaveMode.Overwrite).parquet(new Path(dataDir(table), batchName).toString)
    val snap = Snapshot(
      id = nextId,
      parent = prev.map(_.id).getOrElse(-1L),
      batches = Seq(batchName),
      inputPartitions =
        (prev.map(_.inputPartitions).getOrElse(Seq.empty) ++ inputPartitions).distinct)
    val f = fs(snapDir(table))
    if (!f.exists(snapDir(table))) f.mkdirs(snapDir(table))
    writeAtomic(new Path(snapDir(table), s"v$nextId.json"), toJson(snap))
    writeAtomic(new Path(snapDir(table), "LATEST"), nextId.toString)
    snap
  }

  /** Read the latest committed snapshot of a table (reader isolation: only
    * directories listed in the manifest are scanned — orphan batch dirs from
    * killed runs are invisible).
    */
  def read(table: String): DataFrame = {
    val snap = latest(table).getOrElse(sys.error(s"no committed snapshot for table $table"))
    readSnapshot(table, snap)
  }

  /** Time travel: read the table as of a retained snapshot id
    * (the distributed analog of the reference's checkpoint restore,
    * src/qortex/checkpoints/manager.py:11-35, core/memory.py:446-494).
    * A known `schema` skips Parquet schema inference, which is a Spark
    * job of its own.
    */
  def read(table: String, snapshotId: Long, schema: Option[StructType] = None): DataFrame = {
    val snap = snapshot(table, snapshotId)
      .getOrElse(sys.error(s"no snapshot v$snapshotId for table $table"))
    readSnapshot(table, snap, schema)
  }

  private def readSnapshot(table: String, snap: Snapshot,
      schema: Option[StructType] = None): DataFrame = {
    val paths = snap.batches.map(b => new Path(dataDir(table), b).toString)
    if (paths.isEmpty) spark.emptyDataFrame
    else schema.fold(spark.read)(spark.read.schema).parquet(paths: _*)
  }

  /** Roll the table back to snapshot `id` by committing a NEW snapshot with
    * the old snapshot's batch list (history is never rewritten — exactly
    * Iceberg's rollback semantics; memory.py:446-494 restore_checkpoint).
    */
  def rollback(table: String, id: Long): Snapshot = {
    val target = snapshot(table, id).getOrElse(sys.error(s"no snapshot v$id for $table"))
    val prev = latest(table).getOrElse(sys.error(s"no snapshots for $table"))
    val nextId = prev.id + 1
    val snap = Snapshot(nextId, prev.id, target.batches, target.inputPartitions)
    writeAtomic(new Path(snapDir(table), s"v$nextId.json"), toJson(snap))
    writeAtomic(new Path(snapDir(table), "LATEST"), nextId.toString)
    snap
  }

  /** Batch-level diff between two retained snapshots: (added, removed). */
  def diff(table: String, fromId: Long, toId: Long): (Seq[String], Seq[String]) = {
    val a = snapshot(table, fromId).getOrElse(sys.error(s"no v$fromId")).batches.toSet
    val b = snapshot(table, toId).getOrElse(sys.error(s"no v$toId")).batches.toSet
    ((b -- a).toSeq.sorted, (a -- b).toSeq.sorted)
  }

  /** GC: delete snapshot manifests older than the last `keepLast`, then
    * delete data batch dirs referenced by NO retained snapshot — including
    * orphan dirs from killed writes that never committed.
    *
    * SINGLE-WRITER ONLY: commitAppend/commitReplace write their batch
    * directory BEFORE the manifest exists, so a concurrent expire() would
    * see an in-flight commit's data as an orphan and delete it. The
    * pipeline's commit protocol (like Iceberg's maintenance actions)
    * assumes one writer per table; run expire() only from that writer,
    * between commits.
    */
  def expire(table: String, keepLast: Int = 2): Seq[String] = {
    val ids = snapshotIds(table)
    val (drop, keep) = ids.splitAt(math.max(0, ids.size - math.max(1, keepLast)))
    val f = fs(tableDir(table))
    drop.foreach(i => f.delete(new Path(snapDir(table), s"v$i.json"), false))
    val live = keep.flatMap(snapshot(table, _)).flatMap(_.batches).toSet
    val dd = dataDir(table)
    val removed =
      if (!f.exists(dd)) Seq.empty[String]
      else
        f.listStatus(dd).toSeq.map(_.getPath).filterNot(p => live(p.getName)).map { p =>
          f.delete(p, true); p.getName
        }
    removed.sorted
  }

  def exists(table: String): Boolean = latest(table).isDefined
}

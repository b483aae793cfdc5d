package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Iceberg-emulated table layout (SURVEY.md §7.6): no Iceberg jars ship in
  * this sandbox, so a table = Parquet files + `_manifest.json` snapshot
  * carrying schema, sort/partition spec, per-file row counts and sort-key
  * min/max. The layout is deliberately shaped so a real Iceberg catalog can
  * replace it behind this one facade (`spark.sql.catalog.*`) without
  * touching callers: every write goes through [[writeSorted]], every read
  * through [[read]].
  */
object TableIO {

  /** Write `df` range-partitioned by `rangeKey` (typically the Hilbert order
    * of the cell key — SURVEY.md §2.G1) into `numRanges` sorted parquet
    * parts, then snapshot a manifest with per-file stats harvested from the
    * written footers. Range partitioning gives (a) clustered locality for
    * range predicates, (b) file-level min/max pruning on the sort key. */
  def writeSorted(df: DataFrame, path: String, rangeKey: String,
                  sortCols: Seq[String], numRanges: Int): Unit =
    writeWithManifest(df, path, Paths.get(path, "_manifest.json"), "\"format\": \"graft-table-v1\"",
      rangeKey, sortCols, numRanges)

  /** [[writeSorted]]'s layout under `dataDir`, and its manifest at
    * `manifest`, opening with `head` (the format tag and any per-caller
    * keys). */
  private def writeWithManifest(df: DataFrame, dataDir: String, manifest: java.nio.file.Path,
                                head: String, rangeKey: String, sortCols: Seq[String],
                                numRanges: Int): Unit = {
    val spark = df.sparkSession
    df.repartitionByRange(numRanges, col(rangeKey))
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(dataDir)
    // per-file (rows, lo, hi) from the footers' row counts and column
    // statistics; files with no rows have no key range and are left out
    val written = footers(spark, dataDir)
    val stats = written.flatMap { case (file, meta) =>
      val blocks = meta.getBlocks.asScala.filter(_.getRowCount > 0)
      def keyStats = blocks.map(_.getColumns.asScala.find(_.getPath.toDotString == rangeKey)
        .getOrElse(throw new IllegalStateException(s"$file has no column $rangeKey")).getStatistics)
      if (blocks.isEmpty) None
      else Some((file, blocks.map(_.getRowCount).sum,
        keyStats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min,
        keyStats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max))
    }.sortBy(s => (s._3, s._1))
    val files = stats.map { case (file, rows, lo, hi) =>
      s"""{"file": ${q(file)}, "rows": $rows, "lo": $lo, "hi": $hi}"""
    }.mkString("[", ", ", "]")
    // the schema a read infers: the first footer's Spark schema, made
    // nullable by a user-schema read (which lists the files, no job)
    val schema = written.headOption
      .flatMap(f => Option(f._2.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)))
      .map(js => spark.read.schema(DataType.fromJson(js).asInstanceOf[StructType]).parquet(dataDir).schema)
      .getOrElse(spark.read.parquet(dataDir).schema)
    Files.writeString(manifest,
      s"""{$head,
         | "schema": ${q(schema.json)},
         | "range_key": ${q(rangeKey)},
         | "sorted_by": ${sortCols.map(q).mkString("[", ", ", "]")},
         | "num_files": ${stats.length},
         | "total_rows": ${stats.map(_._2).sum},
         | "snapshot_ms": ${System.currentTimeMillis()},
         | "files": $files}""".stripMargin)
  }

  /** Read the parquet table at `paths`, as `spark.read.parquet(paths: _*)`
    * does but without its schema-inference job. Inference reads a footer in
    * a one-task Spark job on every call; here the inferred schema is
    * memoized per session, the session's parquet and file-source conf
    * (`binaryAsString` and the like change what inference returns), the
    * paths and each listed file's (path, length, modification time), and a
    * read with a memoized schema goes through `spark.read.schema(...)`,
    * which lists the files on the driver and runs no job. A path rewritten
    * in place lists other files and infers afresh. A missing or empty path
    * memoizes nothing and fails exactly as `spark.read.parquet` does. */
  def read(spark: SparkSession, paths: String*): DataFrame = {
    val files = paths.map(listed(spark, _))
    if (files.exists(_.isEmpty)) return spark.read.parquet(paths: _*)
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.contains("parquet") || k.startsWith("spark.sql.files.") || k == "spark.sql.caseSensitive"
    }
    val schema = schemaMemo.computeIfAbsent((spark, conf, paths, files.flatten),
      _ => spark.read.parquet(paths: _*).schema)
    spark.read.schema(schema).parquet(paths: _*)
  }

  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, Map[String, String], Seq[String], Seq[(String, Long, Long)]), StructType]()

  /** (path, length, modification time) of every file under `path`, sorted;
    * empty when the path does not exist (or is a glob). */
  private def listed(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return Nil
    val it = fs.listFiles(p, true)
    val out = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      out += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    out.result().sortBy(_._1)
  }

  def manifestJson(path: String): Option[String] = {
    val p = Paths.get(path, "_manifest.json")
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  /** Table row count from METADATA only — the manifest's `total_rows` when
    * the table is TableIO-managed, else the parquet footers' block row
    * counts (what an Iceberg manifest records). O(files) driver-side footer
    * reads, NO Spark job: parameters derived from the corpus size (eps
    * sizing, nList sizing) must not pay a full scan pre-pass at 10^12
    * rows. */
  def rowCount(spark: SparkSession, path: String): Long =
    manifestJson(path).flatMap { js =>
      """"total_rows":\s*(\d+)""".r.findFirstMatchIn(js).map(_.group(1).toLong)
    }.getOrElse(footers(spark, path).map(_._2.getBlocks.asScala.map(_.getRowCount).sum).sum)

  /** The key under which Spark writes a parquet file's Spark schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** (file, footer) of every parquet file under `path`, in listing order,
    * the file as a Hadoop path string, which `spark.read.parquet` resolves
    * (also under a directory name with a space or a `%`): O(files)
    * driver-side footer reads, no Spark job. */
  private def footers(spark: SparkSession, path: String): Seq[(String, ParquetMetadata)] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val it = p.getFileSystem(conf).listFiles(p, true)
    val out = Seq.newBuilder[(String, ParquetMetadata)]
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try out += (f.getPath.toString -> r.getFooter) finally r.close()
      }
    }
    out.result()
  }

  // =================================================================
  // Versioned snapshots (the Iceberg commit protocol, emulated): each
  // commit writes immutable data files under snap-<id>/, then a manifest
  // _manifest-<id>.json, and finally flips the _current.json pointer with
  // an ATOMIC filesystem move. Readers resolve pointer → manifest → the
  // manifest's exact file list, so a writer killed at ANY point before the
  // pointer flip is invisible (old snapshot keeps serving) and never
  // corrupts the table — the north rule's "killed job resumes" contract at
  // the table layer, complementing Checkpoint's per-range lineage.
  // =================================================================

  final case class Snapshot(id: Long, totalRows: Long, files: Seq[String], schema: StructType)

  /** Commit `df` as a new immutable snapshot of the table at `path`;
    * returns the snapshot id. Data layout matches [[writeSorted]]
    * (range-partitioned + sorted ⇒ footer min/max pruning still applies). */
  def commit(df: DataFrame, path: String, rangeKey: String,
             sortCols: Seq[String], numRanges: Int): Long = {
    val id = nextSnapshotId(path)
    writeWithManifest(df, s"$path/snap-$id", Paths.get(path, s"_manifest-$id.json"),
      s""""format": "graft-table-v2", "snapshot_id": $id""", rangeKey, sortCols, numRanges)
    // the ONLY mutation visible to readers: an atomic pointer flip
    val tmp = Paths.get(path, s"_current.json.tmp-$id")
    Files.writeString(tmp, s"""{"snapshot_id": $id}""")
    Files.move(tmp, Paths.get(path, "_current.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    id
  }

  def currentSnapshotId(path: String): Option[Long] = {
    val p = Paths.get(path, "_current.json")
    if (!Files.exists(p)) None
    else "\"snapshot_id\": (\\d+)".r.findFirstMatchIn(Files.readString(p))
      .map(_.group(1).toLong)
  }

  private def nextSnapshotId(path: String): Long = {
    Files.createDirectories(Paths.get(path))
    currentSnapshotId(path).getOrElse(0L) + 1L
  }

  def snapshot(path: String, id: Long): Snapshot = {
    val m = Files.readString(Paths.get(path, s"_manifest-$id.json"))
    // the manifest's string values of `key`, their \" and \\ escapes undone
    def strings(key: String) = ("\"" + key + "\": \"((?:[^\"\\\\]|\\\\.)*)\"").r
      .findAllMatchIn(m).map(v => "\\\\(.)".r.replaceAllIn(v.group(1),
        e => java.util.regex.Matcher.quoteReplacement(e.group(1)))).toSeq
    val rows = "\"total_rows\": (\\d+)".r.findFirstMatchIn(m).get.group(1).toLong
    Snapshot(id, rows, strings("file"), DataType.fromJson(strings("schema").head).asInstanceOf[StructType])
  }

  /** Read the table at its current snapshot — exactly the committed file
    * list, never in-flight data files. */
  def readCurrent(spark: SparkSession, path: String): DataFrame = {
    val id = currentSnapshotId(path).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    readAsOf(spark, path, id)
  }

  /** Time travel: read a specific committed snapshot, with the schema its
    * manifest holds (no inference job). */
  def readAsOf(spark: SparkSession, path: String, id: Long): DataFrame = {
    val snap = snapshot(path, id)
    spark.read.schema(snap.schema).parquet(snap.files: _*)
  }

  /** Table maintenance (Iceberg's rewrite_data_files job, emulated):
    * rewrite the CURRENT snapshot into `targetFiles` range-partitioned
    * sorted files as a NEW snapshot — the small-files compaction a
    * long-lived incremental table needs (commit cadence fragments data
    * files; footer pruning and scan throughput degrade with file count).
    * The layout (range key + sort) is read back from the manifest so
    * compaction preserves the table's clustering contract; rows are
    * identical by construction, the pointer flip is atomic like any
    * commit, and pre-compaction snapshots stay time-travelable until
    * expired. Returns the new snapshot id. */
  def compact(spark: SparkSession, path: String, targetFiles: Int): Long = {
    val cur = currentSnapshotId(path).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val m = Files.readString(Paths.get(path, s"_manifest-$cur.json"))
    val rangeKey = "\"range_key\": \"([^\"]+)\"".r.findFirstMatchIn(m).get.group(1)
    val sortCols = "\"sorted_by\": \\[([^\\]]*)\\]".r.findFirstMatchIn(m).get.group(1)
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq
    commit(readAsOf(spark, path, cur), path, rangeKey, sortCols, targetFiles)
  }

  /** Drop data + manifests of all snapshots older than the `keep` most
    * recent (the current snapshot is always retained). */
  def expireSnapshots(path: String, keep: Int): Seq[Long] = {
    val cur = currentSnapshotId(path).getOrElse(return Seq.empty)
    val ids = (1L to cur).filter(i => Files.exists(Paths.get(path, s"_manifest-$i.json")))
    val drop = ids.dropRight(math.max(keep, 1))
    drop.foreach { i =>
      val d = Paths.get(path, s"snap-$i")
      if (Files.exists(d)) {
        Files.walk(d).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
      }
      Files.deleteIfExists(Paths.get(path, s"_manifest-$i.json"))
    }
    drop
  }

  /** A JSON string literal: backslash, quote and ALL control chars (< 0x20)
    * escaped — a tab or CR in hand-written SQL would otherwise make a JSON
    * reader of `oracle_sql.json` fail. */
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def appendLine(path: String, line: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), line + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}

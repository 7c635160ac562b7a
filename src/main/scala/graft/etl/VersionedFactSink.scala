package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The fact store: the one module that writes the year-partitioned fact to
  * disk and reads it back. A transactional commit protocol on plain
  * parquet, hand-built from two primitives every filesystem has —
  * immutable files and an atomic rename.
  *
  * Layout under `dir`:
  * {{{
  *   data/year=<Y>/<file>.parquet   immutable, uniquely named data files
  *   _versions/v<N>.json            manifest: schema + the files of version N
  *   _latest                        pointer file, swapped by atomic rename
  * }}}
  *
  * A commit writes its files and its manifest FIRST and publishes with one
  * `rename(_latest.tmp, _latest)` LAST: readers see the old complete
  * version or the new complete version, never a half-written mix. A reader
  * lists no directory: it reads exactly the manifest's files under the
  * `data/` base path, so Spark still prunes the Hive `year=` directories.
  * Merges are copy-on-write at year granularity (untouched years keep their
  * files), and replaying the same slice converges to the same content.
  *
  * After every commit [[vacuum]] keeps the current version and the one
  * before it, so a frame resolved before a commit still reads after it
  * ([[readVersion]] — time travel over the retained versions).
  *
  * Single writer per store (as any log-structured format without a lock
  * service). A racing writer is still caught: each commit claims its
  * manifest file with `CREATE_NEW` (atomic O_CREAT|O_EXCL) BEFORE writing
  * data, so of two writers racing for version N exactly one proceeds and
  * the other fails loudly with nothing written. A commit that fails after
  * its claim releases it; a claim left by a crashed process is released by
  * [[recover]] when the writer restarts.
  */
final class VersionedFactSink(rawDir: String) extends FactSink {
  import VersionedFactSink.Retained

  // kept as a String so the sink stays serializable (nio paths are not)
  private val root = Paths.get(rawDir).toAbsolutePath.normalize().toString
  private def dir = Paths.get(root)
  private def dataDir = dir.resolve("data")
  private def versionsDir = dir.resolve("_versions")
  private def latestPtr = dir.resolve("_latest")
  private def manifestPath(v: Int) = versionsDir.resolve(f"v$v%05d.json")

  // ---------------------------------------------------------- manifest IO
  // list with the stream closed (Files.list/walk leak an fd per call)
  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Every manifest file: published versions and unpublished claims. */
  private def versions: Seq[Int] =
    if (!Files.exists(versionsDir)) Nil
    else listDir(versionsDir).map(_.getFileName.toString).collect {
      case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toInt
    }

  // the commit's CAS point: create version v's manifest file empty —
  // succeeds for exactly ONE writer per version number
  private def claimVersion(v: Int): Unit = {
    Files.createDirectories(versionsDir)
    try Files.write(manifestPath(v), Array.emptyByteArray, StandardOpenOption.CREATE_NEW)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"version $v under $root is already claimed (${manifestPath(v)} exists) — " +
            "another writer committed or is mid-commit; re-read the table " +
            "and retry the commit on the new current version")
    }
  }

  // manifest format: "#schema<TAB>ddl" header (so an EMPTY version — a
  // truncate to zero rows — stays readable), then one data file per line,
  // relative to data/. Overwrites the zero-byte claim; readers resolve only
  // manifests reachable from the published _latest pointer.
  private def writeManifest(v: Int, schemaDdl: String, files: Seq[String]): Unit =
    Files.write(manifestPath(v),
      (s"#schema\t$schemaDdl" +: files.sorted).mkString("\n")
        .getBytes(StandardCharsets.UTF_8))

  private def readManifest(v: Int): (String, Seq[String]) = {
    val p = manifestPath(v)
    require(Files.exists(p), s"version $v does not exist under $root")
    val lines = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).toSeq
    val schema = lines.headOption.filter(_.startsWith("#schema\t"))
      .map(_.stripPrefix("#schema\t")).getOrElse("")
    (schema, lines.filterNot(_.startsWith("#")))
  }

  override def currentVersion: Int =
    if (!Files.exists(latestPtr)) -1
    else new String(Files.readAllBytes(latestPtr), StandardCharsets.UTF_8).trim.toInt

  private def publish(v: Int): Unit = {
    val tmp = dir.resolve(s"_latest.tmp$v")
    Files.write(tmp, v.toString.getBytes(StandardCharsets.UTF_8))
    // the ONE atomic step — everything before this is invisible to readers
    Files.move(tmp, latestPtr, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  // ---------------------------------------------------------- data IO
  /** One job writes `slice`, sorted by `date_id` within each year (tight
    * row-group min/max windows for sub-year range scans), into a hidden
    * per-commit directory; its files then move into the `year=` directories
    * (the vacuum after the commit removes what is left of the directory).
    * Returns the moved files relative to `data/`. */
  private def writeSlice(slice: DataFrame): Seq[String] = {
    val tmp = dataDir.resolve(s"_commit-${java.util.UUID.randomUUID()}")
    slice.sortWithinPartitions("year", "date_id")
      .write.partitionBy("year").parquet(tmp.toString)
    listDir(tmp).filter(_.getFileName.toString.startsWith("year=")).flatMap { yearDir =>
      val target = Files.createDirectories(dataDir.resolve(yearDir.getFileName))
      listDir(yearDir).filter(_.getFileName.toString.endsWith(".parquet")).map { f =>
        // Spark's file names carry the write job's UUID: unique per commit
        Files.move(f, target.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
        dataDir.relativize(target.resolve(f.getFileName)).toString
      }
    }
  }

  private def yearOf(file: String): String = file.takeWhile(_ != '/')

  // ---------------------------------------------------------- FactSink
  def writeFull(fact: DataFrame): Unit = commit(fact, keepUntouchedYears = false)

  def mergePartitions(factSlice: DataFrame): Unit =
    commit(factSlice, keepUntouchedYears = true)

  private def commit(slice: DataFrame, keepUntouchedYears: Boolean): Unit = synchronized {
    // read the base BEFORE claiming: the claim then guarantees no other
    // writer published between this read and our publish, so the
    // copy-on-write merge never drops an interleaved version's years
    val base = currentVersion
    val prev = if (keepUntouchedYears && base >= 0) readManifest(base)._2 else Nil
    val v = base + 1
    claimVersion(v)
    try {
      val files = writeSlice(slice)
      val touched = files.map(yearOf).toSet
      writeManifest(v, slice.schema.toDDL, prev.filterNot(f => touched(yearOf(f))) ++ files)
      publish(v)
    } catch {
      // release our own claim, or every later commit would fail on it;
      // the commit's files are unreferenced and the next vacuum takes them
      case e: Throwable => Files.deleteIfExists(manifestPath(v)); throw e
    }
    vacuum()
  }

  /** Writer (re)start: release versions claimed but never published — a
    * commit that crashed between its claim and its publish — and reclaim
    * their files. Safe only under the single-writer assumption. */
  override def recover(): Unit = synchronized {
    val cur = currentVersion
    versions.filter(_ > cur).foreach(v => Files.delete(manifestPath(v)))
    vacuum()
  }

  def read(spark: SparkSession): DataFrame = readVersion(spark, currentVersion)

  /** Time travel: read any still-retained published version. The recorded
    * schema is passed to the reader, so no job infers it from footers (the
    * partition column `year` comes last). A version of more than 32 files
    * (Spark's parallel-listing threshold) would add a listing job to every
    * read; today's versions have ~5-12. */
  def readVersion(spark: SparkSession, v: Int): DataFrame = {
    require(v >= 0, s"no committed version under $root")
    val (schemaDdl, files) = readManifest(v)
    require(schemaDdl.nonEmpty, s"version $v has no schema")
    val schema = StructType.fromDDL(schemaDdl)
    if (files.isEmpty) { // a truncate to zero rows is a valid, empty table
      val (year, rest) = schema.partition(_.name == "year")
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(rest ++ year))
    } else spark.read.schema(schema).option("basePath", dataDir.toString)
      .parquet(files.map(f => dataDir.resolve(f).toString): _*)
  }

  /** Drop manifests older than the last `keepVersions` and delete every data
    * file no retained manifest lists: commit directories and the files of
    * failed or crashed, never-published commits. Returns the deleted files. */
  def vacuum(keepVersions: Int = Retained): Seq[String] = synchronized {
    require(keepVersions >= 1, "must retain at least the current version")
    val (old, kept) = versions.partition(_ <= currentVersion - keepVersions)
    // manifests below the horizon go first, so a reader can't resolve a
    // version whose files are about to disappear
    old.foreach(v => Files.delete(manifestPath(v)))
    val live = kept.flatMap(v => readManifest(v)._2).toSet
    val all = if (!Files.exists(dataDir)) Nil else {
      val s = Files.walk(dataDir)
      try s.iterator().asScala.toList finally s.close()
    }
    val doomed = all.filter(p =>
      Files.isRegularFile(p) && !live(dataDir.relativize(p).toString))
    doomed.foreach(Files.delete)
    // children before parents: emptied year and commit directories go too
    all.reverse.foreach(p =>
      if (p != dataDir && Files.isDirectory(p) && listDir(p).isEmpty) Files.delete(p))
    doomed.map(_.toString)
  }
}

object VersionedFactSink {
  /** Versions each commit's vacuum keeps: the current one and the one
    * before it, so a reader that resolved its files before a commit can
    * still read them after it. */
  val Retained = 2
}

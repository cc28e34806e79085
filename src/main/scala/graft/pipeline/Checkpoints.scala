package graft.pipeline

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Path => FsPath, Paths}

/**
 * Stage checkpoint registry — the resumability surface of the north
 * rule ("resumable from Iceberg snapshot checkpoints with per-partition
 * lineage and counters").
 *
 * The reference achieves resumability by splitting pipelines into six
 * scripts hand-materialized to HDFS files (examples/topic-corpus/README
 * .md:42-47, README.md:60-62: "store intermediate results to avoid
 * recomputing everything"). Here every stage writes a partitioned
 * parquet snapshot (Iceberg `writeTo(...).append()` + snapshot-id on a
 * cluster — identical call shape) plus a _MANIFEST with row count and
 * lineage (rows per written file); `runStage` skips stages whose
 * snapshot is already committed, so a killed pipeline resumes from the
 * last complete stage. Both come from the footers of the files just
 * written, so a commit runs no Spark job beyond the write's own.
 */
final class Checkpoints(spark: SparkSession, baseDir: String) {

  private def stageDir(name: String) = s"$baseDir/$name"
  private def manifest(name: String) = Paths.get(s"${stageDir(name)}/_MANIFEST")

  private val json = new ObjectMapper()

  /** The manifest at `p` if it commits its snapshot: it parses as JSON
    * to an object with an integer top-level `rows`. The atomic rename
    * below makes a torn manifest near-impossible, but a missing,
    * half-written or foreign file (an older writer, a non-atomic copy)
    * must read as uncommitted: resuming from a stage whose lineage
    * record is garbage would be a silent trust violation even when the
    * parquet itself is fine. */
  private def committedManifest(p: FsPath): Option[JsonNode] =
    try Option(json.readTree(Files.readString(p)))
      .filter(m => m.isObject && m.path("rows").isIntegralNumber)
    catch { case _: java.io.IOException => None }

  /** True iff the stage snapshot was fully committed. */
  def isCommitted(name: String): Boolean = committedManifest(manifest(name)).isDefined

  /** The `"rows":…,"files":…,"lineage":[…]` fields of a manifest for a
    * just-written snapshot directory: rows per data file, read from the
    * parquet footers on the driver (no Spark job), and their total. */
  private def rowRecord(dir: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(dir)
    val files = path.getFileSystem(conf).listStatus(path).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .map { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try st.getPath.getName -> reader.getRecordCount finally reader.close()
      }
    val lineage = files.map { case (f, n) => s"""{"file":"$f","rows":$n}""" }
    s""""rows":${files.map(_._2).sum},"files":${files.length},""" +
      s""""lineage":[${lineage.mkString(",")}]"""
  }

  /**
   * Run a stage: if committed, reload the snapshot (no recompute); else
   * compute, write, record rows per written file, commit the manifest
   * last via temp-file + atomic rename (`Files.move(..., ATOMIC_MOVE)`)
   * — a crash mid-commit leaves either no manifest or a complete one,
   * never a truncated record that `isCommitted` would trust (Iceberg
   * snapshots give the same guarantee transactionally). The manifest
   * records the computed schema, and the snapshot is read back with
   * it, so neither the commit nor a later reload infers a schema (a
   * manifest written before the schema was recorded falls back to
   * inference).
   */
  def runStage(name: String)(compute: => DataFrame): DataFrame =
    committedManifest(manifest(name)) match {
      case Some(m) =>
        val reader = spark.read
        Option(m.get("schema"))
          .map(s => DataType.fromJson(s.toString).asInstanceOf[StructType])
          .fold(reader)(s => reader.schema(s)).parquet(stageDir(name))
      case None =>
        val df = compute
        df.write.mode("overwrite").parquet(stageDir(name))
        val tmp = Paths.get(s"${stageDir(name)}/_MANIFEST.tmp")
        Files.writeString(tmp,
          s"""{"stage":"$name",${rowRecord(stageDir(name))},"schema":${df.schema.json}}""")
        Files.move(tmp, manifest(name),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        spark.read.schema(df.schema).parquet(stageDir(name))
    }

  /** Row count of a committed stage, from its manifest (no Spark job). */
  def rows(name: String): Long = committedManifest(manifest(name))
    .getOrElse(throw new IllegalArgumentException(
      s"checkpoint stage '$name' is not committed"))
    .get("rows").asLong

  /** Names of committed stages (resume inspection). */
  def committedStages(): Seq[String] = {
    val base = new java.io.File(baseDir)
    if (!base.isDirectory) Seq.empty
    else base.listFiles().toSeq.map(_.getName).filter(isCommitted).sorted
  }

  // ------------------------------------------------------------------
  // Snapshot VERSIONS + time travel (the Iceberg snapshot-log shape:
  // every commit is a new immutable snapshot, a single atomically-
  // swung pointer names the current one, history stays readable, and
  // rollback is a pointer move — no data rewrite). Version data lives
  // under `_versions/` — the `_` prefix keeps Spark's parquet reader
  // from picking version files up when scanning the stage dir itself.
  // ------------------------------------------------------------------

  private def versionsDir(name: String) = s"${stageDir(name)}/_versions"
  private def versionDir(name: String, v: Long) =
    f"${versionsDir(name)}/v$v%05d"
  /** Version-claim marker (see [[commitVersion]]): a dot-file so the
    * `versions` listing (names starting with "v") never picks it up. */
  private def claimPath(name: String, v: Long) =
    f"${versionsDir(name)}/.claim-v$v%05d"
  private def headPath(name: String) = Paths.get(s"${stageDir(name)}/_HEAD")
  private def vManifest(name: String, v: Long) =
    Paths.get(s"${versionDir(name, v)}/_VMANIFEST")

  private def isVersionCommitted(name: String, v: Long): Boolean =
    committedManifest(vManifest(name, v)).isDefined

  /** Committed versions of a stage, ascending. */
  def versions(name: String): Seq[Long] = {
    val d = new java.io.File(versionsDir(name))
    if (!d.isDirectory) Seq.empty
    else d.listFiles().toSeq.map(_.getName)
      .collect { case s if s.startsWith("v") => s.drop(1).toLong }
      .filter(isVersionCommitted(name, _)).sorted
  }

  /** Current version per the HEAD pointer; None if never committed.
    * A garbage pointer is a LOUD failure (Iceberg treats metadata-
    * pointer corruption as manual-repair, not silent fallback). */
  def currentVersion(name: String): Option[Long] = {
    if (!Files.exists(headPath(name))) None
    else {
      val s = try Files.readString(headPath(name)).trim catch { case _: Exception => "" }
      val v = try Some(s.toLong) catch { case _: NumberFormatException => None }
      v match {
        case Some(n) if isVersionCommitted(name, n) => Some(n)
        case _ => throw new IllegalStateException(
          s"checkpoint stage '$name': HEAD pointer is corrupt or names an " +
            s"uncommitted version ('$s') — refusing to guess; repair or rollback")
      }
    }
  }

  private def swingHead(name: String, v: Long): Unit = {
    Files.createDirectories(Paths.get(stageDir(name)))
    val tmp = Paths.get(s"${stageDir(name)}/_HEAD.tmp")
    Files.writeString(tmp, v.toString)
    Files.move(tmp, headPath(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /**
   * Commit a NEW snapshot version of a stage: data + per-version
   * manifest first, HEAD pointer swung last (tmp + atomic rename) —
   * a crash leaves HEAD on the previous complete snapshot. Returns
   * the new version number. The log is monotone: committing after a
   * [[rollback]] allocates past the rolled-back versions (old
   * snapshots stay readable — Iceberg semantics).
   *
   * Concurrency: the version number is CLAIMED by creating a marker
   * FILE (`_versions/.claim-vNNNNN`) with `Files.createFile` — an
   * atomic fail-on-collision primitive — so two committers racing the
   * same stage allocate DISTINCT versions instead of clobbering each
   * other's parquet/_VMANIFEST (last HEAD swing wins, both snapshots
   * stay readable — optimistic-concurrency, Iceberg-style). The
   * marker lives OUTSIDE the version directory: the parquet
   * `overwrite` below deletes and recreates that directory, and a
   * directory-based claim died in exactly that window (a concurrent
   * `createDirectory` for the same version succeeded mid-overwrite
   * and both writers interleaved output into one dir). A pre-existing
   * version DIRECTORY (an old-format or crashed claim) is also
   * honored as taken. A sustained collision storm (> 64 contenders)
   * fails loudly.
   */
  def commitVersion(name: String)(compute: => DataFrame): Long = {
    Files.createDirectories(Paths.get(versionsDir(name)))
    var v = versions(name).lastOption.getOrElse(0L) + 1L
    var claimed = false
    var attempts = 0
    while (!claimed) {
      try {
        if (Files.exists(Paths.get(versionDir(name, v))))
          throw new java.nio.file.FileAlreadyExistsException(versionDir(name, v))
        Files.createFile(Paths.get(claimPath(name, v)))
        claimed = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          attempts += 1
          if (attempts > 64) throw new IllegalStateException(
            s"checkpoint stage '$name': could not claim a version after " +
              s"$attempts collisions — runaway committer contention")
          v = math.max(v + 1, versions(name).lastOption.getOrElse(0L) + 1L)
      }
    }
    val df = compute
    df.write.mode("overwrite").parquet(versionDir(name, v))
    val tmp = Paths.get(s"${versionDir(name, v)}/_VMANIFEST.tmp")
    Files.writeString(tmp,
      s"""{"stage":"$name","version":$v,${rowRecord(versionDir(name, v))}}""")
    Files.move(tmp, vManifest(name, v),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    swingHead(name, v)
    v
  }

  /** Read a stage snapshot: HEAD when `version` is None (loud if no
    * commit exists), else the named version (time travel). */
  def readVersion(name: String, version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(currentVersion(name).getOrElse(
      throw new IllegalStateException(
        s"checkpoint stage '$name': no committed snapshot to read")))
    require(isVersionCommitted(name, v),
      s"checkpoint stage '$name': version $v is not a committed snapshot")
    spark.read.parquet(versionDir(name, v))
  }

  /** Roll HEAD back to an earlier committed version — a pointer move,
    * no data rewrite; later snapshots stay in the log. */
  def rollback(name: String, version: Long): Unit = {
    require(isVersionCommitted(name, version),
      s"checkpoint stage '$name': cannot roll back to uncommitted version $version")
    swingHead(name, version)
  }
}

package graft.plans

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.sources.ParquetTables

/** Iceberg-style snapshot checkpoints (north rule: "resumable from
  * checkpoint with per-partition lineage + metrics"). Each pipeline stage
  * writes its output as a parquet snapshot plus a manifest recording the
  * input fingerprint, row count, the row count of each written file
  * (lineage + metrics; one file per written partition), and timing. A re-run with the same fingerprint SKIPS the
  * stage and reads the snapshot — the analog of the reference's staged
  * intermediate state, distributed (SURVEY §7.1 checkpoints #1-#3).
  *
  * Why not the Iceberg table FORMAT itself: the build environment is
  * zero-egress with a fixed jar set (no iceberg-spark-runtime), so this
  * implements the snapshot/manifest/fingerprint SEMANTICS the north rule
  * asks for on plain parquet + JSON manifests. On a cluster with the
  * Iceberg runtime, stage() maps 1:1 onto `writeTo(t).createOrReplace`
  * with a snapshot property carrying the fingerprint, and the skip check
  * onto reading that property from the current snapshot — the engine
  * keys on the fingerprint contract, not the storage layout. */
object Snapshots {

  case class Manifest(stage: String, fingerprint: String, rows: Long,
                      partitions: Seq[(Int, Long)], elapsedSec: Double)

  private def manifestPath(dir: String, stage: String) =
    Paths.get(dir, stage, "_MANIFEST.json")

  def readManifest(dir: String, stage: String): Option[Manifest] = {
    val p = manifestPath(dir, stage)
    if (!Files.exists(p)) return None
    try {
      val txt = Files.readString(p)
      // minimal parse (we wrote it; fixed field order)
      def field(k: String): String = {
        val i = txt.indexOf("\"" + k + "\":")
        val rest = txt.substring(i + k.length + 3).trim
        if (rest.startsWith("\"")) rest.substring(1, rest.indexOf("\"", 1))
        else rest.takeWhile(c => c != ',' && c != '}' && c != ']').trim
      }
      val parts = "\\[\\[.*?\\]\\]".r.findFirstIn(txt).map { arr =>
        "\\[(\\d+),(\\d+)\\]".r.findAllMatchIn(arr)
          .map(m => (m.group(1).toInt, m.group(2).toLong)).toSeq
      }.getOrElse(Nil)
      Some(Manifest(field("stage"), field("fingerprint"), field("rows").toLong,
        parts, field("elapsedSec").toDouble))
    } catch { case _: Exception => None }
  }

  /** Run `compute` unless a valid snapshot with the same fingerprint
    * exists; either way return the snapshot-backed DataFrame. */
  def stage(spark: SparkSession, dir: String, name: String, fingerprint: String)
           (compute: => DataFrame): DataFrame = {
    val existing = readManifest(dir, name)
    val out = s"$dir/$name/data"
    if (existing.exists(_.fingerprint == fingerprint)) {
      return ParquetTables.read(spark, out)
    }
    val t0 = System.nanoTime()
    val df = compute
    // the manifest vouches for the data, and Overwrite deletes that data
    // before its job runs: withdraw the manifest first, so a write that
    // fails midway leaves none and the next call recomputes
    Files.deleteIfExists(manifestPath(dir, name))
    df.write.mode(SaveMode.Overwrite).parquet(out)
    val elapsed = (System.nanoTime() - t0) / 1e9
    val snap = ParquetTables.read(spark, out)
    // per-file lineage/metrics of the WRITTEN snapshot, from the footers
    // on the driver: the write is the stage's only job
    val parts = ParquetTables.fileRowCounts(spark, out).zipWithIndex.map(_.swap)
    val rows = parts.map(_._2).sum
    val partsJson = parts.map { case (p, n) => s"[$p,$n]" }.mkString("[", ",", "]")
    val json =
      s"""{"stage":"$name","fingerprint":"$fingerprint","rows":$rows,
         |"partitions":$partsJson,"elapsedSec":$elapsed}""".stripMargin.replace("\n", "")
    // publish whole or not at all: a crash mid-write must not leave a
    // truncated manifest for the next call to parse
    val tmp = Files.createTempFile(Paths.get(dir, name), "_MANIFEST", ".tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, manifestPath(dir, name), StandardCopyOption.ATOMIC_MOVE)
    snap
  }

  /** Stage fingerprint helper: 128-bit MD5 of the length-delimited parts.
    * (A 32-bit String.hashCode fold collides easily; a collision would make
    * stage() silently serve a stale snapshot whose inputs changed.) */
  def fingerprint(parts: String*): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach { p =>
      val b = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}

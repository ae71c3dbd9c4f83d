package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** UPDATE for published tables — copy-on-write, file-pruned.
  *
  * The row-level mutation family's third verb ([[Merge]] = upsert,
  * [[Deletes]] = remove): rewrite ONLY the files that hold a row
  * matching the predicate, applying the SET expressions to matching
  * rows and carrying every other file byte-identically, all behind
  * [[Publish.publishStagedIf]]'s CAS + atomic pointer flip. This is
  * the engine under SQL `UPDATE t SET ... WHERE ...` through
  * [[GraftCatalog]] (graft.plans.RowLevelSqlBridge) — chosen over a
  * deletion-vector encoding because an update CHANGES bytes (a DV
  * can only hide rows), and because the SQL catalog serves tables
  * sidecar-free.
  *
  * Scale shape: touched-file discovery is one column-pruned scan
  * (predicate + metadata columns only — Catalyst prunes the rest);
  * the rewrite reads and writes exactly the touched files' bytes,
  * the floor any in-place update pays. A predicate matching nothing
  * rewrites nothing and still commits a (carried-only) version — the
  * SQL statement's version history stays truthful. Deletion vectors
  * compose the [[Merge]] way: touched files FOLD their deletions
  * into the rewrite (a DV-hidden row is not updatable — it is not
  * live), carried files keep their sidecar slice.
  */
object Updates {

  /** What an update did: version + row and file accounting. */
  final case class UpdateStats(
      version: Long,
      updated: Long,
      carriedFiles: Int,
      rewrittenFiles: Int)

  /** UPDATE the live Publish version of `root`: rows matching
    * `condition` take the `set` expressions (target column :=
    * expression over the row's columns), everything else is carried.
    * Returns [[UpdateStats]]; the new version is live on return. */
  def updatePublished(
      spark: SparkSession,
      root: String,
      condition: Column,
      set: Map[String, Column]): UpdateStats = {
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    val live = Publish.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"nothing published at $root"))
    val liveDir = Paths.get(root).resolve(s"v=$live").toString
    // the manifest is the width authority (the Merge posture): a
    // post-evolution version mixes file widths, and the predicate or
    // SET list may name an evolved column
    val schema = Publish.liveManifestSchema(root)
    val targetCols = schema.map(_.fieldNames.toSeq)
      .getOrElse(spark.read.parquet(liveDir).columns.toSeq)
    set.keys.foreach(c => require(targetCols.contains(c),
      s"SET column '$c' is not a column of the table (${targetCols.mkString(", ")})"))

    val allFiles = Compact.listDataFiles(liveDir).map(_._1)
    // touched = files holding a LIVE row matching the predicate
    // (through the DV sidecar); column-pruned to predicate + metadata
    val touched = Deletes.readFilesLineage(spark, liveDir, allFiles, schema)
      .where(condition)
      .select("__file").distinct().collect()
      .map(_.getString(0)).toIndexedSeq.sorted
    val touchedSet = touched.toSet
    val carried = allFiles.filterNot(touchedSet)

    var updated = 0L
    val version = Publish.publishStagedIf(spark, root,
      expectedLive = Some(live),
      meta = Map(
        "updated_from" -> live.toString,
        "carried" -> carried.size.toString,
        "rewritten" -> touched.size.toString),
      mergeSchema = true) { staging =>
      Publish.carry(spark, liveDir, staging, carried)
      if (touched.nonEmpty) {
        // rewritten files fold their deletion vector in (readFiles
        // applies it) — a DV-hidden row is not live, so it neither
        // updates nor survives the rewrite
        val tgt = Deletes.readFiles(spark, liveDir, touched, schema)
        updated = tgt.where(condition).count()
        val outCols = targetCols.map { c =>
          set.get(c) match {
            case Some(e) => when(condition, e).otherwise(col(c)).as(c)
            case None => col(c)
          }
        }
        tgt.select(outCols: _*)
          // one write task per rewritten input file keeps output
          // sizes tracking input sizes
          .repartition(touched.size)
          .write.mode("append").parquet(staging)
      }
    }
    UpdateStats(version, updated, carried.size, touched.size)
  }

  /** Copy-on-write DELETE: rewrite the files holding a doomed row
    * WITHOUT those rows, carry the rest — the SQL `DELETE FROM t
    * WHERE p` engine. The deletion-vector path
    * ([[Deletes.deleteFromPublished]]) is the cheap accumulate-first
    * policy; this is the fold-now form the SQL catalog needs (it
    * serves tables sidecar-free), equal to DV-delete + materialize
    * in ONE version commit. SQL semantics on the predicate: rows
    * where `p` is TRUE go; FALSE or NULL stay. Returns (version,
    * deletedRows, carriedFiles, rewrittenFiles). */
  def deleteRewritePublished(
      spark: SparkSession,
      root: String,
      condition: Column): (Long, Long, Int, Int) = {
    val live = Publish.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"nothing published at $root"))
    val liveDir = Paths.get(root).resolve(s"v=$live").toString
    val schema = Publish.liveManifestSchema(root)
    val allFiles = Compact.listDataFiles(liveDir).map(_._1)
    val touched = Deletes.readFilesLineage(spark, liveDir, allFiles, schema)
      .where(condition)
      .select("__file").distinct().collect()
      .map(_.getString(0)).toIndexedSeq.sorted
    val touchedSet = touched.toSet
    val carried = allFiles.filterNot(touchedSet)

    var deleted = 0L
    val version = Publish.publishStagedIf(spark, root,
      expectedLive = Some(live),
      meta = Map(
        "deleted_from" -> live.toString,
        "carried" -> carried.size.toString,
        "rewritten" -> touched.size.toString),
      mergeSchema = true) { staging =>
      Publish.carry(spark, liveDir, staging, carried)
      if (touched.nonEmpty) {
        val tgt = Deletes.readFiles(spark, liveDir, touched, schema)
        deleted = tgt.where(condition).count()
        tgt.where(!coalesce(condition, lit(false)))
          .repartition(touched.size)
          .write.mode("append").parquet(staging)
      }
    }
    (version, deleted, carried.size, touched.size)
  }
}

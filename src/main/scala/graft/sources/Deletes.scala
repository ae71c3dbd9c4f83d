package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deletion vectors — row-level deletes WITHOUT rewriting data files.
  *
  * The reference's serving refresh is DELETE+INSERT inside BigQuery
  * (core_coin_wallet_profits' update loop); on an immutable-file lake
  * the naive translation rewrites every file that contains a doomed
  * row. At 100 TB a compliance delete (one user's rows, a recalled
  * document set — the LLM-training-data case is takedown requests)
  * touching 1% of rows can intersect EVERY file; copy-on-write pays a
  * full-table rewrite for a 1% logical change. Deletion vectors are
  * the standard answer (Delta DVs, Iceberg position deletes): record
  * the deleted POSITIONS in a tiny `_deletes` sidecar and apply them
  * at read time; rewrite files only when maintenance chooses to
  * ([[materialize]] — the same cost-follows-fragmentation policy as
  * [[Compact.compactPublishedIncremental]]).
  *
  * Positions come from the parquet scanner's own row numbering
  * (`_metadata.row_index`, stable physical order within an immutable
  * file) keyed by file NAME — valid exactly as long as the file's
  * bytes, which [[Publish.carry]]'s hard links keep identical. The
  * sidecar is parquet like everything else: (file, pos) rows, hidden
  * from plain readers by the underscore convention.
  *
  * Read-time application is file-local and pruned: files with no
  * recorded deletes stream through UNTOUCHED (no join, no metadata
  * columns — the common case at scale); only files present in the
  * sidecar pay a broadcast anti-join on (file, pos). The sidecar is
  * |deleted rows| ≥ driver-manifest-sized only in pathology — a
  * delete that large should have been a filtered rewrite, and
  * [[materialize]] is exactly that escape hatch.
  *
  * Correctness posture: deletes are SEMANTICS, not optimization — so
  * unlike the skipping manifests the sidecar cannot over-approximate.
  * The q127 wiring hash-checks a post-delete aggregate against a
  * DuckDB full scan with the predicate negated; DeletesSpec carries
  * the byte-identity (data files untouched), idempotence, versioned
  * carry, and materialization proofs.
  */
object Deletes {

  def deletesPath(dir: String): String = dir + "/_deletes"

  private def hasDeletes(dir: String): Boolean =
    Files.exists(Paths.get(deletesPath(dir)))

  private def fileNameCol: Column =
    element_at(split(col("_metadata.file_path"), "/"), -1)

  /** Record every CURRENTLY-LIVE row of `dir` matching `predicate` as
    * deleted, merging into the existing sidecar (set semantics — a
    * position is deleted once, so re-issuing a delete is a no-op).
    * Data files are never touched. Returns the sidecar's total
    * position count after the merge. */
  def delete(spark: SparkSession, dir: String, predicate: Column): Long =
    deleteWhere(spark, dir, _.where(predicate))

  /** [[delete]] with the doomed rows chosen by an arbitrary
    * DataFrame transform instead of a single predicate Column — what
    * a TOMBSTONE FEED needs: "delete these keys" is a semi-join
    * against the feed, not a predicate (an `isin` over a collected
    * key list caps at driver size; the join form scales with the
    * feed). `doomed` receives the live rows WITH lineage already
    * captured and must only filter/join them — the returned rows'
    * `__file`/`__pos` drive the sidecar merge. */
  def deleteWhere(
      spark: SparkSession, dir: String, doomed: DataFrame => DataFrame,
      schema: Option[org.apache.spark.sql.types.StructType] = None): Long = {
    // lineage is captured BEFORE the caller's transform: metadata
    // columns resolve against the scan relation only, so a caller
    // joining first would find no `_metadata` to select. `schema`
    // (the manifest's — the published path passes it) conforms a
    // mixed-width post-evolution dir, so a predicate on an evolved
    // column resolves even when the sampled footer is narrow
    val base = schema.fold(spark.read)(spark.read.schema).parquet(dir)
      .withColumn("__file", fileNameCol)
      .withColumn("__pos", col("_metadata.row_index"))
    val hits = doomed(base)
      .select(col("__file").as("file"), col("__pos").as("pos"))
    val dp = deletesPath(dir)
    val merged =
      if (hasDeletes(dir)) hits.unionByName(spark.read.parquet(dp)).distinct()
      else hits.distinct()
    // stage → swap: the merge READS the sidecar it replaces (the q42
    // self-referential-write lesson); count from the staged copy so
    // the returned number is what readers will see
    val staging = dp + ".merge"
    merged.write.mode("overwrite").parquet(staging)
    if (hasDeletes(dir))
      Sinks.deleteRecursively(Paths.get(dp))
    Files.move(Paths.get(staging), Paths.get(dp))
    spark.read.parquet(dp).count()
  }

  /** The table with its deletion vector applied — the ONLY read path
    * that sees delete semantics. Untouched files (no sidecar entry)
    * are read directly, no join and no metadata columns; touched
    * files anti-join their positions against the broadcast sidecar.
    * The touched-file list is a driver-side |files|-bounded probe of
    * the sidecar, the same manifest bound as [[FileStats]]. */
  def read(spark: SparkSession, dir: String): DataFrame =
    readFiles(spark, dir, Compact.listDataFiles(dir).map(_._1))

  /** DV-applied read of a NAMED file subset of `dir` — the unit
    * [[read]] and [[graft.sources.Merge]]'s copy-on-write rewrite
    * share: subset files with no sidecar entry stream through
    * join-free; the rest anti-join their positions.
    *
    * @param schema conform every file to this schema (columns a file
    *   lacks read as NULL) — required when the subset spans a
    *   schema-evolution boundary (a [[Merge]] with `evolveSchema`
    *   carried old-width files; the manifest schema is the
    *   authority) */
  def readFiles(spark: SparkSession, dir: String, names: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    readFilesLineage(spark, dir, names, schema).drop("__file", "__pos")

  /** [[readFiles]] keeping the lineage columns `__file` (file name)
    * and `__pos` (row index) — consumers that need provenance after
    * DV application (Merge's touched-file discovery) can't reach for
    * `_metadata` themselves once the anti-join has projected it
    * away. */
  def readFilesLineage(spark: SparkSession, dir: String, names: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    require(names.nonEmpty, s"empty file subset of $dir")
    def readPaths(paths: Seq[String]): DataFrame =
      schema.fold(spark.read)(spark.read.schema).parquet(paths: _*)
    def withLineage(df: DataFrame): DataFrame = df
      .withColumn("__file", fileNameCol)
      .withColumn("__pos", col("_metadata.row_index"))
    val data = withLineage(readPaths(names.map(n => s"$dir/$n")))
    if (!hasDeletes(dir)) return data
    val dels = spark.read.parquet(deletesPath(dir))
    val touched = dels.select("file").distinct().collect()
      .map(_.getString(0)).filter(names.toSet)
    if (touched.isEmpty) return data
    val touchedSet = touched.toSet
    val clean = names.filterNot(touchedSet)
    val touchedDf =
      withLineage(readPaths(touched.map(n => s"$dir/$n").toIndexedSeq))
        .join(
          broadcast(dels.withColumnRenamed("file", "__file")
            .withColumnRenamed("pos", "__pos")),
          Seq("__file", "__pos"), "left_anti")
    if (clean.isEmpty) touchedDf
    else withLineage(readPaths(clean.map(n => s"$dir/$n")))
      .unionByName(touchedDf)
  }

  /** Delete from the LIVE Publish version of `root` into a NEW
    * version: data files and their prior sidecar carried
    * ([[Publish.carry]] — on an object store these are manifest
    * references, not copies), new positions merged — so the
    * delete commits through the same atomic pointer flip as every
    * other change, old versions keep their own delete state for
    * time travel, and a crash mid-delete is invisible. Returns the
    * new version number. */
  def deleteFromPublished(
      spark: SparkSession, root: String, predicate: Column,
      extraMeta: Map[String, String] = Map.empty): Long =
    deleteFromPublishedWhere(spark, root, _.where(predicate), extraMeta)

  /** [[deleteFromPublished]] for a TOMBSTONE FEED: doomed rows are the
    * semi-join of the live table against `tombstones` on `keyCols` —
    * the delete-stream shape ([[graft.streaming.DeleteStream]]), where
    * the feed is a DataFrame of retired keys, never a predicate. */
  def deleteKeysFromPublished(
      spark: SparkSession, root: String, tombstones: DataFrame,
      keyCols: Seq[String],
      extraMeta: Map[String, String] = Map.empty): Long = {
    require(keyCols.nonEmpty, "tombstone delete needs key columns")
    deleteFromPublishedWhere(spark, root,
      _.join(broadcast(tombstones.select(keyCols.map(col): _*).distinct()),
        keyCols, "left_semi"),
      extraMeta)
  }

  /** The publish-level carry protocol under an arbitrary doomed-row
    * transform ([[deleteWhere]]'s form). `extraMeta` rides the version
    * manifest's atomic commit — a streaming caller stores its batch id
    * here, making replayed tombstone batches refusable. */
  def deleteFromPublishedWhere(
      spark: SparkSession, root: String, doomed: DataFrame => DataFrame,
      extraMeta: Map[String, String] = Map.empty): Long = {
    val live = Publish.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"nothing published at $root"))
    val liveDir = Paths.get(root).resolve(s"v=$live").toString
    // CAS on the derived-from version (the Merge/Compact posture)
    // mergeSchema: every file carries byte-identically, so a
    // post-evolution mixed-width version must record the UNION schema
    // in its new manifest, not whichever footer the validation read
    // sampled; the same manifest schema conforms the doomed-row scan
    // so predicates on evolved columns resolve
    val version = Publish.publishStagedIf(spark, root,
      expectedLive = Some(live),
      meta = extraMeta ++ Map("deleted_from" -> live.toString),
      mergeSchema = true) { staging =>
      Publish.carry(spark, liveDir, staging, Compact.listDataFiles(liveDir).map(_._1))
      deleteWhere(spark, staging, doomed, Publish.liveManifestSchema(root)): Unit
    }
    version
  }

  /** [[Publish.read]] with the live version's deletion vector
    * applied. */
  def readPublished(spark: SparkSession, root: String): DataFrame = {
    val v = Publish.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published version at $root"))
    val dir = Paths.get(root).resolve(s"v=$v").toString
    // conform to the manifest schema (the readConformed contract):
    // post-evolution carried files read missing columns as NULL
    readFiles(spark, dir, Compact.listDataFiles(dir).map(_._1),
      Publish.liveManifestSchema(root))
  }

  /** Fold the deletion vector back into the data — publish a NEW
    * version where touched files are rewritten WITHOUT their deleted
    * rows and untouched files are carried byte-identically; the new
    * version has no sidecar. This is the DV maintenance policy:
    * deletes accumulate cheaply, materialization runs when read-side
    * join cost outweighs a rewrite of the touched subset — cost ∝
    * files-with-deletes, never table size. Returns (newVersion,
    * carried, rewritten). */
  def materialize(spark: SparkSession, root: String): (Long, Int, Int) = {
    val live = Publish.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"nothing published at $root"))
    val liveDir = Paths.get(root).resolve(s"v=$live")
    val dp = deletesPath(liveDir.toString)
    if (!Files.exists(Paths.get(dp)))
      throw new IllegalStateException(s"no deletion vector at $root v=$live")
    val dels = spark.read.parquet(dp)
    val touched = dels.select("file").distinct().collect()
      .map(_.getString(0)).toIndexedSeq.sorted
    val touchedSet = touched.toSet
    val carried = Compact.listDataFiles(liveDir.toString)
      .map(_._1).filterNot(touchedSet)
    // CAS on the derived-from version (the Merge/Compact posture)
    // post-evolution posture: rewritten files conform to the MANIFEST
    // schema (a narrow sampled footer would drop evolved-column data
    // from the rewrite), carried narrow files sit next to them, and
    // mergeSchema records the union width in the new manifest
    val manifestSchema = Publish.liveManifestSchema(root)
    val version = Publish.publishStagedIf(spark, root,
      expectedLive = Some(live),
      meta = Map(
      "materialized_from" -> live.toString,
      "carried" -> carried.size.toString,
      "rewritten" -> touched.size.toString),
      mergeSchema = true) { staging =>
      Publish.carry(spark, liveDir.toString, staging, carried)
      if (touched.nonEmpty) {
        val full = manifestSchema.fold(spark.read)(spark.read.schema)
          .parquet(touched.map(n => s"$liveDir/$n"): _*)
        val cols = full.columns.map(col)
        full
          .withColumn("__file", fileNameCol)
          .withColumn("__pos", col("_metadata.row_index"))
          .join(
            broadcast(dels.withColumnRenamed("file", "__file")
              .withColumnRenamed("pos", "__pos")),
            Seq("__file", "__pos"), "left_anti")
          .select(cols: _*)
          // one write task per rewritten input file keeps output file
          // sizes tracking input sizes (minus the deleted rows)
          .repartition(touched.size)
          .write.mode("append").parquet(staging)
      }
    }
    (version, carried.size, touched.size)
  }
}

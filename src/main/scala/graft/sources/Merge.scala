package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MERGE INTO for published tables — copy-on-write upsert with
  * file-level pruning.
  *
  * The reference's entire refresh stack is this statement in BigQuery
  * clothing: its transfer updaters stage a delta then DELETE+INSERT
  * the matched keys (reference: etl_pipelines dune_transfers_updates,
  * core_coin_wallet_profits' update loop). On an immutable-file lake
  * the same semantics are a version commit: rewrite ONLY the files
  * that contain a matched key, carry every other file by identity,
  * append unmatched source rows as fresh files, and flip the pointer
  * atomically ([[Publish.publishStaged]] — a crash anywhere leaves
  * the old version live).
  *
  * Matched-file discovery is the scale hinge. A 100 TB target with a
  * 1 GB daily delta must not scan itself to find the overlap: when
  * the target carries a [[FileStats]] manifest with a bloom over the
  * merge key, candidate files come from a driver-side manifest probe
  * (|files| rows); the exact overlap then reads the KEY COLUMN of the
  * candidates only (column-pruned scan joined against the delta).
  * Without a manifest the exact pass runs over all files — still
  * column-pruned, never the full width.
  *
  * Semantics are SQL-standard MERGE, deterministic by construction:
  *   - source keys must be UNIQUE (checked — an ambiguous multi-match
  *     MERGE is refused loudly, the standard's behavior);
  *   - `deleteWhen` (target columns by name, source via [[s]]) picks
  *     matched rows to drop;
  *   - remaining matched rows apply `set` (target column :=
  *     expression over target columns and [[s]]-wrapped source
  *     columns);
  *   - unmatched source rows insert (source must carry the target's
  *     columns); `insertWhen` gates insertion — the NOT MATCHED
  *     ... AND clause, which is what makes a CDC delete tombstone
  *     for an absent key a no-op instead of an insert.
  *
  * Deletion vectors compose: matched-row discovery and the rewrite
  * both read through the live version's `_deletes` sidecar (a
  * DV-deleted row is NOT a match — its source row inserts, which is
  * the SQL-visible state's answer), rewritten files fold their
  * deletions in, and carried files keep their sidecar slice. q128
  * hash-checks the merged table against DuckDB re-deriving the same
  * MERGE relationally; MergeSpec carries byte-identity, pruning,
  * ambiguity and DV-composition proofs.
  */
object Merge {

  private val SrcPrefix = "__s_"

  /** Reference a SOURCE column inside `set` / `deleteWhen`
    * expressions (unqualified names bind to the target). */
  def s(name: String): Column = col(SrcPrefix + name)

  /** What a merge did: version + row and file accounting. */
  final case class MergeStats(
      version: Long,
      updated: Long,
      deleted: Long,
      inserted: Long,
      carriedFiles: Int,
      rewrittenFiles: Int,
      candidateFiles: Int,
      bySourceDeleted: Long = 0L,
      bySourceUpdated: Long = 0L)

  /** MERGE `source` INTO the live Publish version of `root` ON
    * equality of `keys`. Returns [[MergeStats]]; the new version is
    * live on return.
    *
    * @param maxBloomProbeKeys bloom-manifest pruning collects the
    *   source key set to the driver to probe the per-file blooms —
    *   sound only while the delta is driver-sized, so sources larger
    *   than this fall back to the exact column-pruned scan.
    * @param insertValues explicit VALUES for the NOT MATCHED insert
    *   branch — expressions over PLAIN source columns, keyed by
    *   target column name (the SQL `INSERT (cols) VALUES (exprs)`
    *   list; columns left unassigned insert NULL). Without it,
    *   inserts project the source's same-named columns, the API
    *   convenience contract.
    * @param bySourceDeleteWhen the SQL `WHEN NOT MATCHED BY SOURCE
    *   THEN DELETE [AND cond]` branch — the reference's full-sync
    *   rebuild shape (core_coin_wallet_transfers' exclusion rebuilds:
    *   rows absent from the refreshed source must go). Condition is
    *   over TARGET columns only (there is no source row). Pass
    *   `Some(lit(true))` for the unconditional full-sync delete.
    *   Target rows with no source match and a true condition are
    *   dropped; file discovery widens to every file holding an
    *   affected row (inherently a full key-column scan — full-sync is
    *   a global statement).
    * @param bySourceSet `WHEN NOT MATCHED BY SOURCE THEN UPDATE SET`
    *   — target-column expressions applied to unmatched rows passing
    *   `bySourceSetWhen` (default all unmatched). A row matching BOTH
    *   by-source branches deletes (delete-wins; the SQL bridge
    *   encodes clause order into the conditions).
    * @param evolveSchema the Delta `autoMerge` story: source columns
    *   absent from the target WIDEN it. Rewritten files carry the new
    *   columns (matched rows take their `set` expression, or the
    *   source value when unset; unmatched neighbours in the same file
    *   take NULL — matched-ness, not file membership, decides, so the
    *   semantics stay file-layout-independent); inserts carry their
    *   source values; UNTOUCHED files carry byte-identically WITHOUT
    *   the columns — the design decision — and conform at read time
    *   via [[Publish.readConformed]] (the version manifest, written
    *   under `mergeSchema`, records the widened schema as the
    *   authority; missing columns read as NULL). The alternative —
    *   rewriting every file to the new width — would turn a 1 GB
    *   delta into a table rewrite, exactly what this operator exists
    *   to avoid. */
  def mergeIntoPublished(
      spark: SparkSession,
      root: String,
      source: DataFrame,
      keys: Seq[String],
      set: Map[String, Column],
      deleteWhen: Option[Column] = None,
      insertWhen: Option[Column] = None,
      extraMeta: Map[String, String] = Map.empty,
      maxBloomProbeKeys: Int = 100000,
      evolveSchema: Boolean = false,
      insertValues: Option[Map[String, Column]] = None,
      bySourceDeleteWhen: Option[Column] = None,
      bySourceSet: Map[String, Column] = Map.empty,
      bySourceSetWhen: Option[Column] = None): MergeStats = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val live = Publish.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"nothing published at $root"))
    val liveDir = Paths.get(root).resolve(s"v=$live").toString

    // ambiguity guard: a key matched by two source rows has no
    // deterministic MERGE result — refuse, like the SQL standard
    val dup = source.groupBy(keys.map(col): _*).count()
      .where(col("count") > 1).limit(1).count()
    require(dup == 0, s"source has duplicate keys on (${keys.mkString(", ")})")

    val allFiles = Compact.listDataFiles(liveDir).map(_._1)
    // the manifest schema, not a sampled footer, is the target-width
    // authority: after a PRIOR evolution the live version legitimately
    // mixes widths, and a footer-sampled schema would silently drop
    // the evolved columns from this merge's rewrites
    val targetSchema: org.apache.spark.sql.types.StructType =
      Publish.currentManifest(root)
        .map { m =>
          org.apache.spark.sql.types.StructType.fromDDL(
            new com.fasterxml.jackson.databind.ObjectMapper()
              .readTree(m).get("schema").asText)
        }
        .getOrElse(spark.read.parquet(liveDir).schema)
    val targetCols = targetSchema.fieldNames
    // schema evolution: source columns the target lacks, in source
    // order; without the flag they are ignored (inserts project the
    // target's columns), the strict-MERGE behavior
    val newCols: Seq[String] =
      if (evolveSchema) source.columns.toSeq.filterNot(targetCols.contains)
      else Seq.empty
    require(newCols.forall(c => !keys.contains(c)),
      "a merge key cannot be a new column")
    val outColNames = targetCols.toSeq ++ newCols

    // ---- candidate files: bloom-manifest probe when available ----
    val statsDir = FileStats.statsPath(liveDir)
    val bloomEligible = keys.size == 1 && Files.exists(Paths.get(statsDir)) &&
      spark.read.parquet(statsDir).columns.contains(s"bloom_${keys.head}")
    val candidates: Seq[String] =
      if (!bloomEligible) allFiles
      else {
        val srcKeys = source.select(keys.head).limit(maxBloomProbeKeys + 1).collect()
        if (srcKeys.length > maxBloomProbeKeys) allFiles
        else FileStats.candidateFiles(spark, liveDir,
          Seq(FileStats.KeyIn(keys.head, srcKeys.map(_.get(0)).toIndexedSeq)))
          .map(f => f.substring(f.lastIndexOf('/') + 1))
      }

    // ---- exact overlap: key column of the candidates only ----
    val matchedTouched: Seq[String] =
      if (candidates.isEmpty) Seq.empty
      else Deletes.readFilesLineage(spark, liveDir, candidates, Some(targetSchema))
        .select((col("__file") +: keys.map(col)): _*)
        .join(source.select(keys.map(col): _*), keys, "left_semi")
        .select("__file").distinct().collect().map(_.getString(0)).toIndexedSeq

    // ---- by-source discovery: files holding an AFFECTED unmatched
    // row. Inherently a full scan of key + condition columns (a
    // full-sync statement is global), but still column-pruned and
    // never the full width; files whose every row matches (or fails
    // the condition) stay carried. ----
    val bySource = bySourceDeleteWhen.isDefined || bySourceSet.nonEmpty
    val bySourceAffects: Column =
      (bySourceDeleteWhen.toSeq ++
        (if (bySourceSet.nonEmpty) Seq(bySourceSetWhen.getOrElse(lit(true))) else Nil))
        .reduceOption(_ || _).getOrElse(lit(false))
    val bsTouched: Seq[String] =
      if (!bySource) Seq.empty
      else Deletes.readFilesLineage(spark, liveDir, allFiles, Some(targetSchema))
        .join(source.select(keys.map(col): _*).distinct(), keys, "left_anti")
        .where(bySourceAffects)
        .select("__file").distinct().collect().map(_.getString(0)).toIndexedSeq

    val touched = (matchedTouched ++ bsTouched).distinct.sorted
    val touchedSet = touched.toSet
    val carried = allFiles.filterNot(touchedSet)

    // source with every column under the __s_ prefix plus a match
    // marker — unqualified names in caller expressions stay target's
    val srcRenamed = source.columns.foldLeft(source) { (df, c) =>
      df.withColumnRenamed(c, SrcPrefix + c)
    }.withColumn(SrcPrefix + "exists", lit(true))
    val matchedFlag = coalesce(col(SrcPrefix + "exists"), lit(false))

    var updated = 0L; var deleted = 0L; var inserted = 0L
    var bySourceDeleted = 0L; var bySourceUpdated = 0L
    // CAS on the version this merge DERIVED from: a concurrent
    // commit between discovery and flip must conflict (wrap in
    // Txn.retry to rebase by re-running the merge), never be lost
    val version = Publish.publishStagedIf(spark, root,
      expectedLive = Some(live),
      meta = extraMeta ++ Map(
      "merged_from" -> live.toString,
      "carried" -> carried.size.toString,
      "rewritten" -> touched.size.toString),
      // carried old-width files can sit next to widened rewrites —
      // from THIS merge's evolution or a prior one whose narrow files
      // this merge carries again — so the manifest must always record
      // the UNION schema, never a sampled footer's
      mergeSchema = true) { staging =>
      // carried files keep their deletion-vector slice; rewritten
      // files fold theirs in below (readFiles applies it)
      Publish.carry(spark, liveDir, staging, carried)

      if (touched.nonEmpty) {
        val tgt = Deletes.readFiles(spark, liveDir, touched, Some(targetSchema))
        val joinCond = keys.map(k => col(k) === col(SrcPrefix + k)).reduce(_ && _)
        // by-source branches: delete wins over update when both apply
        // (the SQL bridge encodes clause order into the conditions)
        val bsDoomed = !matchedFlag && bySourceDeleteWhen.getOrElse(lit(false))
        val bsUpdFlag =
          if (bySourceSet.isEmpty) lit(false)
          else !matchedFlag && !bySourceDeleteWhen.getOrElse(lit(false)) &&
            bySourceSetWhen.getOrElse(lit(true))
        val doomed = (matchedFlag && deleteWhen.getOrElse(lit(false))) || bsDoomed
        val outCols = targetCols.map { c =>
          (set.get(c), bySourceSet.get(c)) match {
            case (None, None) => col(c)
            case (m, b) =>
              val first = m.map(e => when(matchedFlag, e))
                .getOrElse(when(bsUpdFlag, b.get))
              val chained = if (m.isDefined && b.isDefined)
                first.when(bsUpdFlag, b.get) else first
              chained.otherwise(col(c)).as(c)
          }
        } ++ newCols.map { c =>
          // a NEW column exists only where a source row supplied it:
          // matched rows take their set expression (source value when
          // unset), pre-existing unmatched rows stay NULL
          when(matchedFlag, set.getOrElse(c, col(SrcPrefix + c))).as(c)
        }
        val joined = tgt.join(srcRenamed, joinCond, "left_outer")
          .withColumn("__matched", matchedFlag)
          .withColumn("__doomed", doomed)
          .withColumn("__bs_upd", bsUpdFlag)
        joined.cache()
        try {
          updated = joined.where(col("__matched") && !col("__doomed")).count()
          deleted = joined.where(col("__matched") && col("__doomed")).count()
          bySourceDeleted = joined.where(!col("__matched") && col("__doomed")).count()
          if (bySourceSet.nonEmpty)
            bySourceUpdated = joined.where(col("__bs_upd") && !col("__doomed")).count()
          joined.where(!col("__doomed"))
            .select(outCols: _*)
            // one write task per rewritten input file keeps output
            // sizes tracking input sizes
            .repartition(touched.size)
            .write.mode("append").parquet(staging)
        } finally joined.unpersist(): Unit
      }

      // inserts: a source row matching ANY live target row would have
      // made its file touched, so anti-joining the touched slice IS
      // the global not-matched set; `insertWhen` (plain source
      // columns) gates which unmatched rows insert — a CDC delete
      // tombstone for an absent key must be a no-op, not an insert
      val insEligible = insertWhen.fold(source)(source.where)
      val insBase =
        if (touched.isEmpty) insEligible
        else insEligible.join(
          Deletes.readFiles(spark, liveDir, touched, Some(targetSchema))
            .select(keys.map(col): _*),
          keys, "left_anti")
      // explicit VALUES list (the SQL bridge's insert assignments):
      // expressions over plain source columns, unassigned target
      // columns insert typed NULL
      val ins = insertValues match {
        case Some(iv) => insBase.select(outColNames.map { c =>
          iv.get(c).map(_.as(c)).getOrElse {
            val dt =
              if (targetCols.contains(c)) targetSchema(targetSchema.fieldIndex(c)).dataType
              else source.schema(c).dataType
            lit(null).cast(dt).as(c)
          }
        }: _*)
        case None => insBase.select(outColNames.map(col): _*)
      }
      inserted = ins.count()
      if (inserted > 0)
        ins.write.mode("append").parquet(staging)
    }
    MergeStats(version, updated, deleted, inserted,
      carried.size, touched.size, candidates.size,
      bySourceDeleted, bySourceUpdated)
  }
}

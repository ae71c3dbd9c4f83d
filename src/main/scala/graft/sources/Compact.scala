package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the operational tail of the sink family.
  *
  * Every incremental producer in this library (streaming micro-batch
  * sinks, per-day refreshes, Publish versions built from small diffs)
  * accretes files far below a scan-efficient size; at 100 TB the
  * resulting footer/task overhead — one task per tiny file, one
  * footer fetch each — dominates the read path long before the bytes
  * do. Compaction is the standard maintenance answer (Delta OPTIMIZE
  * bin-packing, Iceberg rewrite_data_files): bin-pack existing data
  * files toward a target size and rewrite each bin as one file,
  * changing the LAYOUT and never the rows.
  *
  * Shape: the file list + sizes is a driver-side listing (|files|
  * rows — the same bounded-manifest argument as [[ZOrder]]'s stats
  * table and every table format's log). Bin assignment is a
  * deterministic first-fit walk in file-name order (name order, not
  * size order: parquet writers emit roughly-equal parts, and a stable
  * order keeps the plan reproducible across runs). The rewrite is ONE
  * distributed pass: rows pick up their bin via a broadcast join of
  * the tiny (file → bin) plan against `input_file_name()`, then a
  * range repartition on the bin id lands each bin in its own write
  * task — shuffle volume = the bytes being compacted, the floor any
  * rewrite pays.
  *
  * Row identity is the contract: same rows, any order, nothing else —
  * verified by spec (exceptAll both ways) and, through the q104
  * wiring, by the full-scan DuckDB oracle over the pre-compaction
  * data (the q100 posture: layout maintenance must be invisible to
  * the hash gate).
  */
object Compact {

  /** First-fit bin assignment in the given order: close the current
    * bin when the next file would push it past `targetBytes` (a bin
    * always takes at least one file, so an oversized file rides
    * alone). Returns (file, bin) pairs, bins numbered from 0. */
  def planBins(files: Seq[(String, Long)], targetBytes: Long): Seq[(String, Int)] = {
    require(targetBytes > 0, "targetBytes must be positive")
    var bin = 0
    var acc = 0L
    files.map { case (name, bytes) =>
      if (acc > 0 && acc + bytes > targetBytes) { bin += 1; acc = 0L }
      acc += bytes
      (name, bin)
    }
  }

  /** The parquet data files of `dir` with sizes, name-sorted —
    * driver-side, |files| entries. */
  def listDataFiles(dir: String): Seq[(String, Long)] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala
        .filter(f => f.getFileName.toString.endsWith(".parquet"))
        .map(f => (f.getFileName.toString, Files.size(f)))
        .toSeq.sortBy(_._1)
      finally s.close()
    }
  }

  /** `dir`'s rows re-binned for compaction: the returned frame holds
    * exactly the input rows, partitioned so each write task emits one
    * ~`targetBytes` file. Callers write it wherever the new layout
    * should live ([[compactPublished]] hands it to Publish's
    * staging→validate→promote path).
    *
    * @param schema conform every fragment to this schema (the live
    *   MANIFEST's — [[Publish.liveManifestSchema]]) when the dir can
    *   mix widths after a schema-evolving merge; without it a
    *   footer-sampled read would silently drop evolved-column data
    *   from the rewrite. */
  def compacted(spark: SparkSession, dir: String, targetBytes: Long,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    compactedFiles(spark, dir, listDataFiles(dir), targetBytes, schema)

  /** [[compacted]] over an explicit file subset — the incremental
    * path reads ONLY the fragments it rewrites. */
  private def compactedFiles(
      spark: SparkSession,
      dir: String,
      files: Seq[(String, Long)],
      targetBytes: Long,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val plan = planBins(files, targetBytes)
    require(plan.nonEmpty, s"nothing to compact at $dir")
    val nBins = plan.map(_._2).max + 1
    import spark.implicits._
    val planDf = plan.toDF("__file", "__bin")
    // read through the deletion vector (lineage kept: __file is the
    // name the bin plan keyed on) — a rewrite is the moment deletes
    // FOLD, so the rewritten files carry no sidecar debt
    val data = Deletes.readFilesLineage(spark, dir, files.map(_._1), schema)
    val cols = data.columns.filterNot(c => c == "__file" || c == "__pos")
    data
      .join(broadcast(planDf), Seq("__file"))
      // range, not hash, partitioning on the bin id: k distinct ids
      // into k partitions lands ~one bin per write task, where a hash
      // would collide bins into double-size files and leave empty tasks
      .repartitionByRange(nBins, col("__bin"))
      .select(cols.map(col): _*)
  }

  /** Compact the LIVE Publish version of `root` into a NEW published
    * version (same rows, fewer files), riding Publish's atomic
    * staging→validate→promote — readers flip from the fragmented
    * layout to the compacted one at the pointer swap, and the old
    * version stays readable until [[Publish.vacuum]] reaps it. That
    * composition IS the maintenance loop of a versioned table:
    * publish small increments, compact when fragmentation accretes,
    * vacuum past the retention window. Returns the new version. */
  def compactPublished(spark: SparkSession, root: String, targetBytes: Long): Long = {
    val live = Publish.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"nothing published at $root"))
    val liveDir = Paths.get(root).resolve(s"v=$live").toString
    // the manifest, not a sampled footer, is the width authority: a
    // post-evolution version mixes file widths, and the full rewrite
    // must conform every fragment to it or evolved columns vanish
    Publish.publish(
      compacted(spark, liveDir, targetBytes, Publish.liveManifestSchema(root)), root,
      meta = Map("compacted_from" -> live.toString))
  }

  /** INCREMENTAL [[compactPublished]] — the Delta-OPTIMIZE cost
    * model: maintenance proportional to FRAGMENTATION, not table
    * size. Files already at-or-above `minBytes` (default half the
    * target — the bin-packer can never beat that) are carried into
    * the new version BYTE-IDENTICALLY ([[Publish.carry]]: hard links
    * here; an object store re-references the same manifest entries
    * — the protocol doesn't change); only the
    * fragments below the threshold are read, re-binned, and
    * rewritten. On a 100 TB table where daily increments fragment
    * 0.1% of the bytes, the full rewrite scans 1000× more than this
    * does. Rides [[Publish.publishStaged]], so validation (every
    * footer of the ASSEMBLED version, carried files included, parsed
    * on the driver), the manifest, and the atomic pointer flip are
    * exactly [[compactPublished]]'s. Returns (newVersion, carried,
    * rewritten). */
  def compactPublishedIncremental(
      spark: SparkSession,
      root: String,
      targetBytes: Long,
      minBytes: Long = -1L): (Long, Int, Int) = {
    val live = Publish.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"nothing published at $root"))
    val liveDir = Paths.get(root).resolve(s"v=$live")
    val threshold = if (minBytes > 0) minBytes else math.max(1L, targetBytes / 2)
    val (keep, frags) = listDataFiles(liveDir.toString).partition(_._2 >= threshold)
    // CAS on the version this compaction DERIVED from: racing a
    // writer must conflict (Txn.retry re-derives), never be lost
    // post-evolution the live version mixes widths: rewritten
    // fragments conform to the MANIFEST schema (or a narrow sampled
    // footer would drop evolved-column data), and the new manifest
    // records the union of carried-narrow + rewritten-wide files
    // (mergeSchema), never a sampled footer's width
    val manifestSchema = Publish.liveManifestSchema(root)
    val version = Publish.publishStagedIf(spark, root,
      expectedLive = Some(live),
      meta = Map(
      "compacted_from" -> live.toString,
      "carried" -> keep.size.toString,
      "rewritten" -> frags.size.toString),
      mergeSchema = true) { staging =>
      // deletion vectors compose (the Merge posture): carried files
      // keep their sidecar slice; rewritten fragments FOLD their
      // deletions in — compacting a DV-carrying table must never
      // resurrect deleted rows
      Publish.carry(spark, liveDir.toString, staging, keep.map(_._1))
      if (frags.nonEmpty)
        compactedFiles(spark, liveDir.toString, frags, targetBytes, manifestSchema)
          .write.mode("append").parquet(staging)
    }
    (version, keep.size, frags.size)
  }

  private[sources] def fileCount(dir: Path): Int = listDataFiles(dir.toString).size
}

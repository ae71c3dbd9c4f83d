package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Optimistic transactions over [[Publish]] versions — the
  * multi-writer story.
  *
  * Every mutation in this library is a read-modify-write: MERGE,
  * deletes, compaction, and appends all READ the live version and
  * stage a version derived from it. Under concurrent writers the
  * plain protocol loses updates — writer B derives from v5 while
  * writer A commits v6; B's unconditional commit takes v7 and A's
  * change is silently gone (the rename race only catches two writers
  * landing on the SAME number). The standard answer (Delta/Iceberg
  * commit protocol) is optimistic concurrency: stage against a base,
  * commit-if-unchanged, and on interference REBASE and retry.
  *
  * Because every transform here re-derives from the live version,
  * re-EXECUTION is a complete rebase: there is no partial conflict
  * analysis to get wrong. [[retry]] is that loop —
  * `attempt(liveVersion)` must stage-and-commit through
  * [[Publish.publishStagedIf]] with `expectedLive = liveVersion`
  * (every transform that takes `extraMeta`/stages via publishStagedIf
  * composes); a [[Publish.CommitConflict]] re-reads the live version
  * and re-runs the whole derivation against it. A conflict-free
  * writer pays one expected-version check; a conflicted writer pays
  * re-derivation — the optimistic trade, correct when conflicts are
  * rare (table maintenance cadences), and the table can never hold a
  * version that silently dropped a committed change.
  *
  * File-set-disjointness "fast rebase" (Iceberg's conflict detection
  * narrowing re-execution to truly overlapping commits) is an
  * OPTIMIZATION this API deliberately leaves out: re-execution is
  * always sound, disjointness analysis is per-transform and subtle —
  * wrong is worse than slow here.
  */
object Txn {

  /** Run `attempt` against the current live version until it commits
    * or `maxAttempts` conflicts. Returns the committed version. */
  def retry(root: String, maxAttempts: Int = 5)(attempt: Option[Long] => Long): Long = {
    require(maxAttempts >= 1)
    var tries = 0
    while (true) {
      val live = Publish.currentVersion(root)
      try return attempt(live)
      catch {
        case c: Publish.CommitConflict =>
          tries += 1
          if (tries >= maxAttempts) throw new IllegalStateException(
            s"transaction at $root conflicted $tries times (last: ${c.getMessage})")
      }
    }
    -1L // unreachable
  }

  /** Concurrency-safe APPEND: [[Publish.carry]] the base version's
    * data files (hard links, with their deletion-vector slice), add
    * `rows` as fresh files, commit iff the base is still live (CAS),
    * retry by re-deriving from the new live. The building block the
    * q139 race runs on, and the commit of
    * [[graft.streaming.AppendStream]] (its micro-batch id rides
    * `meta`; any other append keeps the live replay marker through
    * the commit). mergeSchema: appended rows can sit next to carried
    * files of a different width (post-evolution narrow carries, or a
    * narrower insert); the manifest must record the union, never a
    * sampled footer's width. */
  def append(spark: SparkSession, root: String, rows: DataFrame,
      meta: Map[String, String] = Map.empty,
      maxAttempts: Int = 5): Long =
    retry(root, maxAttempts) { live =>
      Publish.publishStagedIf(spark, root, expectedLive = live,
        meta = meta, mergeSchema = true) { staging =>
        live.foreach { v =>
          val liveDir = Paths.get(root).resolve(s"v=$v").toString
          Publish.carry(spark, liveDir, staging, Compact.listDataFiles(liveDir).map(_._1))
        }
        rows.write.mode("append").parquet(staging)
      }
    }
}

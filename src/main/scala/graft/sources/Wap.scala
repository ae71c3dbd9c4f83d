package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-audit-publish with declarative expectations — data quality
  * enforced AT THE COMMIT POINT.
  *
  * The reference enforces quality after the fact: dbt tests run over
  * already-refreshed BigQuery tables (test_core_coin_market_data_
  * no_date_gaps.sql and its 13 siblings), so a red test means readers
  * ALREADY saw the bad rows. [[graft.checks.Checks]] gives those
  * predicates runtime form; this object moves them in front of the
  * pointer flip — the WAP (write-audit-publish) workflow every
  * production lake converges on, with Delta Live Tables' three
  * expectation severities:
  *
  *   - [[Expectation.warn]] — violations COUNTED in the manifest,
  *     rows published anyway (observability without gating);
  *   - [[Expectation.drop]] — violating rows QUARANTINED to a
  *     `_rejects` sidecar inside the version dir (underscore: plain
  *     readers never see them; each reject carries the names of the
  *     expectations it failed for triage), clean rows publish;
  *   - [[Expectation.fail]] — any violation ABORTS the publish: no
  *     version, live pointer untouched, counts returned.
  *
  * Every count rides the version manifest (`expect.<name>`), so the
  * audit trail commits ATOMICALLY with the data it describes — a
  * version's quality report can never detach from the version.
  *
  * Scale: one aggregate pass computes all violation counts (one
  * conditional-count column per expectation — map-side combined, no
  * shuffle beyond the final fold), then the clean/reject split is one
  * filtered write each. Referential expectations pre-join their dim
  * (broadcast-sized by the dim contract) and predicate on the joined
  * column — see WapSpec's orders⊆customer case.
  */
object Wap {

  object Severity extends Enumeration { val Warn, Drop, Fail = Value }

  /** One named expectation over the staged rows. */
  final case class Expectation(
      name: String, predicate: Column, severity: Severity.Value)
  object Expectation {
    def warn(name: String, predicate: Column): Expectation =
      Expectation(name, predicate, Severity.Warn)
    def drop(name: String, predicate: Column): Expectation =
      Expectation(name, predicate, Severity.Drop)
    def fail(name: String, predicate: Column): Expectation =
      Expectation(name, predicate, Severity.Fail)
  }

  /** Publish refused: a fail-severity expectation had violations.
    * Carries every expectation's violation count. */
  final class AuditFailed(val counts: Map[String, Long])
    extends RuntimeException(
      s"audit failed: ${counts.filter(_._2 > 0).toSeq.sorted.mkString(", ")}")

  def rejectsPath(dir: String): String = dir + "/_rejects"

  /** Audit `df` against `expectations`, then publish the surviving
    * rows as the next version of `root` — or abort with
    * [[AuditFailed]] if any fail-severity expectation is violated,
    * leaving the live version untouched. Returns (version, violation
    * counts). `df` is consumed twice (count pass + write) — pass a
    * persisted frame when recomputation is expensive. */
  def publishWithExpectations(
      spark: SparkSession,
      root: String,
      df: DataFrame,
      expectations: Seq[Expectation],
      meta: Map[String, String] = Map.empty): (Long, Map[String, Long]) = {
    require(expectations.nonEmpty, "no expectations — use Publish.publish")
    val names = expectations.map(_.name)
    require(names.distinct == names, s"duplicate expectation names: $names")

    // ---- audit: every violation count in ONE aggregate pass ----
    val countCols = expectations.map(e =>
      count(when(!coalesce(e.predicate, lit(false)), 1)).as(e.name))
    val row = df.agg(countCols.head, countCols.tail: _*).collect()(0)
    val counts = names.zipWithIndex.map { case (n, i) => n -> row.getLong(i) }.toMap

    val failed = expectations
      .filter(e => e.severity == Severity.Fail && counts(e.name) > 0)
    if (failed.nonEmpty) throw new AuditFailed(counts)

    // ---- split: drop-severity violations quarantine, rest publish ----
    val dropExp = expectations.filter(_.severity == Severity.Drop)
    // null predicate = violation (SQL three-valued logic must not
    // smuggle a null-keyed row past a NOT NULL expectation)
    def holds(e: Expectation): Column = coalesce(e.predicate, lit(false))
    val cleanPred = dropExp.map(holds).reduceOption(_ && _).getOrElse(lit(true))
    val expectMeta = counts.map { case (n, c) => s"expect.$n" -> c.toString }
    val version = Publish.publishStaged(spark, root, meta ++ expectMeta) { staging =>
      df.where(cleanPred).write.parquet(staging)
      if (dropExp.nonEmpty) {
        val violated = array_compact(array(dropExp.map(e =>
          when(!holds(e), lit(e.name))): _*))
        val rejects = df.where(!cleanPred)
          .withColumn("__violated", violated)
        if (rejects.limit(1).count() > 0)
          rejects.write.parquet(rejectsPath(staging))
      }
    }
    (version, counts)
  }

  /** [[publishWithExpectations]]'s APPEND form — the audit gate in
    * front of a [[Txn.append]]-shaped commit: the base version's data
    * files (and deletion-vector slices) carry byte-identically, the
    * CLEAN rows land as fresh files, drop-severity violations
    * quarantine to the NEW version's `_rejects` sidecar (so each
    * append's audit trail rides its own version — time travel reads
    * batch-grained quarantines), fail-severity violations abort with
    * the base untouched, and the whole thing commits CAS under
    * [[Txn.retry]]. What [[graft.streaming.WapStream]] folds
    * micro-batches through. */
  def appendWithExpectations(
      spark: SparkSession,
      root: String,
      df: DataFrame,
      expectations: Seq[Expectation],
      meta: Map[String, String] = Map.empty): (Long, Map[String, Long]) = {
    require(expectations.nonEmpty, "no expectations — use Txn.append")
    val names = expectations.map(_.name)
    require(names.distinct == names, s"duplicate expectation names: $names")
    val countCols = expectations.map(e =>
      count(when(!coalesce(e.predicate, lit(false)), 1)).as(e.name))
    val row = df.agg(countCols.head, countCols.tail: _*).collect()(0)
    val counts = names.zipWithIndex.map { case (n, i) => n -> row.getLong(i) }.toMap
    if (expectations.exists(e => e.severity == Severity.Fail && counts(e.name) > 0))
      throw new AuditFailed(counts)

    val dropExp = expectations.filter(_.severity == Severity.Drop)
    def holds(e: Expectation): Column = coalesce(e.predicate, lit(false))
    val cleanPred = dropExp.map(holds).reduceOption(_ && _).getOrElse(lit(true))
    val expectMeta = counts.map { case (n, c) => s"expect.$n" -> c.toString }
    val version = Txn.retry(root) { live =>
      Publish.publishStagedIf(spark, root, expectedLive = live,
        meta = meta ++ expectMeta,
        mergeSchema = true) { staging =>
        if (live.isEmpty)
          // first version: guarantee a schema-bearing data footer even
          // when EVERY row of the first batch drop-quarantines (rejects
          // live under the underscore dir Spark ignores, so without
          // this the validation read has no schema and the publish
          // dies — but drop severity promises a clean publish, which
          // for an all-rejected first batch is an empty v1)
          spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), df.schema)
            .repartition(1).write.mode("append").parquet(staging)
        live.foreach { v =>
          val liveDir = java.nio.file.Paths.get(root).resolve(s"v=$v").toString
          Publish.carry(spark, liveDir, staging, Compact.listDataFiles(liveDir).map(_._1))
        }
        df.where(cleanPred).write.mode("append").parquet(staging)
        if (dropExp.nonEmpty) {
          val violated = array_compact(array(dropExp.map(e =>
            when(!holds(e), lit(e.name))): _*))
          val rejects = df.where(!cleanPred).withColumn("__violated", violated)
          if (rejects.limit(1).count() > 0)
            rejects.write.parquet(rejectsPath(staging))
        }
      }
    }
    (version, counts)
  }

  /** The quarantined rows of the LIVE version (empty frame with the
    * data schema + `__violated` if the version had none). */
  def rejects(spark: SparkSession, root: String): DataFrame = {
    val v = Publish.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published version at $root"))
    val dir = rejectsPath(
      java.nio.file.Paths.get(root).resolve(s"v=$v").toString)
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
      spark.read.parquet(dir)
    else Publish.read(spark, root).limit(0)
      .withColumn("__violated", array().cast("array<string>"))
  }

  /** A version's recorded violation count for expectation `name`. */
  def violationCount(root: String, name: String): Option[Long] =
    Publish.currentMetaValue(root, s"expect.$name").map(_.toLong)
}

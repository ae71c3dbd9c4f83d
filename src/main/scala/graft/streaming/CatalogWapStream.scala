package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{Catalog, Publish, Wap}

/** S29: snapshot-grain write-audit-publish — expectations enforced on
  * a MULTI-TABLE micro-batch, in front of the single catalog flip.
  *
  * [[WapStream]] (S28) gates one table; [[CatalogStream]] (S23)
  * keeps N derived tables snapshot-consistent. A star ingest needs
  * both AT ONCE: per-table expectations, plus REFERENTIAL checks
  * that only make sense at the snapshot grain — "every fact key
  * exists in the dims AS DERIVED THIS BATCH", not against a dim tick
  * that may be newer or older than the facts being checked (the
  * inconsistency S23 exists to kill, resurfacing inside the audit
  * itself if checks ran per-table).
  *
  * Semantics (DLT severities, lifted to the snapshot):
  *   - warn — counted; counts commit in the CATALOG manifest inside
  *     the flip, so a snapshot's quality report is atomic with it;
  *   - drop — violating rows are filtered from their table and
  *     quarantined into a `_rejects` MEMBER TABLE of the SAME
  *     snapshot ((src_table, violated names, row as JSON) — the
  *     quarantine is itself snapshot-consistent and queryable
  *     through the same catalog, time travel included);
  *   - fail — the WHOLE FLIP aborts: no member version is staged,
  *     no pointer moves, every table of the snapshot stays at the
  *     previous horizon (all-or-nothing is the point — publishing
  *     the clean members while one fails would tear the snapshot).
  *
  * Exactly-once is S23's commit-layer argument verbatim: the batch
  * id rides the catalog manifest inside the atomic flip; replays are
  * refused before any derivation runs. */
object CatalogWapStream {

  val RejectsTable = "_rejects"

  /** A snapshot-grain referential expectation: every `factKeys` tuple
    * of `fact` must exist as a `dimKeys` tuple of `dim`, both AS
    * PUBLISHED by this flip — the check runs against the dim AFTER
    * its own drop expectations quarantined rows (a fact key whose
    * only dim row was drop-quarantined is dangling in the committed
    * snapshot, so it must be caught here, not smuggled through by
    * auditing the raw derivation). Checks on the same fact chain in
    * declaration order, so each count matches its quarantined rows. */
  final case class Referential(
      name: String,
      fact: String, factKeys: Seq[String],
      dim: String, dimKeys: Seq[String],
      severity: Wap.Severity.Value)

  /** Derive every table from the batch, audit the SET, publish the
    * survivors and the quarantine with one catalog flip. Returns
    * false (nothing at all written) for an already-committed batch;
    * throws [[Wap.AuditFailed]] (nothing written, previous snapshot
    * intact) on any fail-severity violation. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      root: String,
      derive: Map[String, (Option[DataFrame], DataFrame) => DataFrame],
      expectations: Map[String, Seq[Wap.Expectation]] = Map.empty,
      referential: Seq[Referential] = Nil): Boolean = {
    if (Catalog.lastBatch(root).exists(_ >= batchId)) return false
    val spark = batch.sparkSession
    require(expectations.keySet.subsetOf(derive.keySet),
      s"expectations name underived tables: ${expectations.keySet -- derive.keySet}")
    referential.foreach { r =>
      require(derive.contains(r.fact) && derive.contains(r.dim),
        s"referential '${r.name}' names underived tables")
    }

    val live = Catalog.currentTableVersions(root)
    val derived = derive.map { case (name, f) =>
      val current = live.get(name).map { v =>
        graft.sources.Publish.readVersion(spark,
          java.nio.file.Paths.get(root, "tables", name).toString, v)
      }
      name -> f(current, batch)
    }

    // ---- audit ----
    def holds(e: Wap.Expectation): Column = coalesce(e.predicate, lit(false))
    // per-table: one aggregate pass per table, all its counts at once
    // (counted on the RAW derivation — these describe what arrived)
    val tableCounts: Map[String, Long] = expectations.flatMap {
      case (_, Nil) => Nil
      case (t, exps) =>
        val cols = exps.map(e => count(when(!holds(e), 1)).as(e.name))
        val row = derived(t).agg(cols.head, cols.tail: _*).collect()(0)
        exps.zipWithIndex.map { case (e, i) => s"$t.${e.name}" -> row.getLong(i) }
    }

    // per-table drop split FIRST, for every table — referential checks
    // must see the CLEANED dims (a fact key whose only dim row was
    // itself drop-quarantined IS dangling in the published snapshot;
    // checking against the raw dim would let it through and commit the
    // exact inconsistency the snapshot-grain audit exists to kill)
    def rejectRow(t: String, df: DataFrame, violated: Column): DataFrame =
      df.select(lit(t).as("src_table"), violated.as("violated"),
        to_json(struct(df.columns.map(col): _*)).as("row_json"))
    val emptyRejects = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(
        "src_table STRING, violated ARRAY<STRING>, row_json STRING"))
    var rejects = emptyRejects
    val dropCleaned: Map[String, DataFrame] = derived.map { case (t, df) =>
      val dropExps = expectations.getOrElse(t, Nil)
        .filter(_.severity == Wap.Severity.Drop)
      if (dropExps.isEmpty) t -> df
      else {
        val pred = dropExps.map(holds).reduce(_ && _)
        val violated = array_compact(array(dropExps.map(e =>
          when(!holds(e), lit(e.name))): _*))
        rejects = rejects.unionByName(rejectRow(t, df.where(!pred), violated))
        t -> df.where(pred)
      }
    }

    // referential, against the cleaned frames, CHAINED in declaration
    // order per fact (a later check sees the rows an earlier drop kept,
    // so counts match quarantined rows exactly); every count lands in
    // ONE job via a tagged union instead of a job per check
    val refKeys = referential.map(r => s"${r.fact}.${r.name}")
    require(refKeys.distinct == refKeys,
      s"duplicate referential (fact, name) pairs: $refKeys")
    var cleaned = dropCleaned
    // dim side reads the EVOLVING cleaned map, not the drop-only
    // snapshot: with chained referential drops (facts→A, A→B) a dim
    // row of A quarantined by the A→B check must not vouch for its
    // facts — declaration-order chaining covers dims pruned by prior
    // referential drops, not just per-table drops
    def dimKeysOf(r: Referential): DataFrame =
      cleaned(r.dim).select(
        r.dimKeys.zip(r.factKeys).map { case (d, f) => col(d).as(f) }: _*)
    val refDangling: Seq[(Referential, DataFrame)] = referential.map { r =>
      val dangling = cleaned(r.fact).join(dimKeysOf(r), r.factKeys, "left_anti")
      if (r.severity == Wap.Severity.Drop) {
        rejects = rejects.unionByName(
          rejectRow(r.fact, dangling, array(lit(r.name))))
        cleaned = cleaned.updated(r.fact,
          cleaned(r.fact).join(dimKeysOf(r), r.factKeys, "left_semi"))
      }
      r -> dangling
    }
    val refCounts: Map[String, Long] =
      if (refDangling.isEmpty) Map.empty
      else {
        val observed = refDangling.map { case (r, d) =>
          d.select(lit(s"${r.fact}.${r.name}").as("check"))
        }.reduce(_ union _)
          .groupBy("check").count().collect()
          .map(row => row.getString(0) -> row.getLong(1)).toMap
        refKeys.map(k => k -> observed.getOrElse(k, 0L)).toMap
      }
    val counts = tableCounts ++ refCounts

    val failed =
      expectations.exists { case (t, exps) => exps.exists(e =>
        e.severity == Wap.Severity.Fail && counts(s"$t.${e.name}") > 0) } ||
      referential.exists(r =>
        r.severity == Wap.Severity.Fail && counts(s"${r.fact}.${r.name}") > 0)
    if (failed) throw new Wap.AuditFailed(counts)

    val expectMeta = counts.map { case (k, v) => s"expect.$k" -> v.toString }
    // single-partition quarantine: rejects are audit-sized, and the
    // one eager writer guarantees a schema-bearing footer even when
    // the batch rejected nothing (an empty member must still publish)
    Catalog.publishAll(spark, root,
      cleaned + (RejectsTable -> rejects.repartition(1)),
      Map(Publish.ReplayMarker -> batchId.toString) ++ expectMeta): Unit
    true
  }

  /** Start the audited snapshot ingest. See [[UpsertSink.start]] for
    * why checkpointLocation is required for real restartability. */
  def start(
      facts: DataFrame,
      root: String,
      derive: Map[String, (Option[DataFrame], DataFrame) => DataFrame],
      expectations: Map[String, Seq[Wap.Expectation]] = Map.empty,
      referential: Seq[Referential] = Nil,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = facts.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, root, derive, expectations, referential): Unit
      }
    checkpointLocation.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}

package graft

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.{Catalog, Wap}
import graft.streaming.CatalogWapStream
import graft.streaming.CatalogWapStream.Referential
import graft.tools.Scratch

case class StarRow(order_id: Long, cust: Long, amount: Long, seq: Long)

/** S29 (streaming/CatalogWapStream): snapshot-grain WAP — per-table
  * and referential expectations audited against the batch's OWN
  * derivations, drop quarantined into a snapshot-consistent _rejects
  * member, fail aborting the whole flip, replay refused. */
class CatalogWapStreamSpec extends SparkSpec {

  // facts = the batch's order rows (amount > 0 expected); dims = the
  // distinct customers the batch itself admits (cust < 100)
  private def derivations: Map[String, (Option[DataFrame], DataFrame) => DataFrame] = Map(
    "facts" -> ((cur, b) => {
      val fresh = b.select(col("order_id"), col("cust"), col("amount"))
      cur.fold(fresh)(_.unionByName(fresh))
    }),
    "dims" -> ((cur, b) => {
      val fresh = b.where(col("cust") < 100).select(col("cust")).distinct()
      cur.fold(fresh)(_.unionByName(fresh).distinct())
    }))

  private val exps = Map(
    "facts" -> Seq(Wap.Expectation.drop("positive_amount", col("amount") > 0)))
  private val refs = Seq(Referential(
    "fact_has_dim", "facts", Seq("cust"), "dims", Seq("cust"),
    Wap.Severity.Drop))

  test("drop severities: per-table and referential violations quarantine snapshot-consistently") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_catwap")
    implicit val sqlCtx = spark.sqlContext
    try {
      val mem = MemoryStream[StarRow]
      val query = CatalogWapStream.start(
        mem.toDF(), root, derivations, exps, refs)
      try {
        // order 3 violates the amount gate; order 4 references an
        // inadmissible customer (cust 200 never enters dims)
        mem.addData(
          StarRow(1, 10, 100, 1), StarRow(2, 11, 50, 1),
          StarRow(3, 10, -5, 1), StarRow(4, 200, 70, 1))
        query.processAllAvailable()

        assert(Catalog.read(spark, root, "facts")
          .select("order_id").as[Long].collect().toSet == Set(1L, 2L))
        assert(Catalog.read(spark, root, "dims")
          .select("cust").as[Long].collect().toSet == Set(10L, 11L))
        // the quarantine is a member of the SAME snapshot, with names
        val rej = Catalog.read(spark, root, CatalogWapStream.RejectsTable)
          .collect().map(r => (r.getString(0),
            r.getSeq[String](1).toList, r.getString(2)))
        assert(rej.length == 2, rej.toSeq)
        assert(rej.count(_._2 == List("positive_amount")) == 1)
        assert(rej.count(_._2 == List("fact_has_dim")) == 1)
        // counts ride the catalog manifest, atomic with the flip
        assert(Catalog.currentMetaValue(root, "expect.facts.positive_amount")
          .contains("1"))
        assert(Catalog.currentMetaValue(root, "expect.facts.fact_has_dim")
          .contains("1"))

        // a clean batch: rejects member goes EMPTY for this snapshot
        mem.addData(StarRow(5, 12, 10, 2))
        query.processAllAvailable()
        assert(Catalog.read(spark, root, "facts")
          .select("order_id").as[Long].collect().toSet == Set(1L, 2L, 5L))
        assert(Catalog.read(spark, root, CatalogWapStream.RejectsTable).count() == 0)
        // …while snapshot 1's quarantine stays readable via AS OF
        assert(Catalog.readAsOf(spark, root, CatalogWapStream.RejectsTable,
          Catalog.snapshotTimeMs(root, 1L)).count() == 2)
      } finally query.stop()
      assert(Catalog.lastBatch(root).contains(1L))
      // replay refused before any derivation
      val before = Catalog.currentVersion(root)
      assert(!CatalogWapStream.applyBatch(
        Seq(StarRow(9, 9, 9, 9)).toDF(), 1L, root, derivations, exps, refs))
      assert(Catalog.currentVersion(root) == before)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("a fail-severity violation aborts the WHOLE flip: no member version, no pointer move") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_catwap_fail")
    try {
      val failRefs = Seq(Referential(
        "fact_has_dim", "facts", Seq("cust"), "dims", Seq("cust"),
        Wap.Severity.Fail))
      assert(CatalogWapStream.applyBatch(
        Seq(StarRow(1, 10, 100, 1)).toDF(), 0L, root,
        derivations, exps, failRefs))
      val snapBefore = Catalog.currentVersion(root)
      val factsVersions = memberVersions(root, "facts")
      val e = intercept[Wap.AuditFailed](CatalogWapStream.applyBatch(
        Seq(StarRow(2, 11, 5, 2), StarRow(3, 200, 5, 2)).toDF(), 1L, root,
        derivations, exps, failRefs))
      assert(e.counts("facts.fact_has_dim") == 1L)
      // all-or-nothing: snapshot pointer unmoved AND no orphan member
      // versions staged (the clean dims must not have published)
      assert(Catalog.currentVersion(root) == snapBefore)
      assert(memberVersions(root, "facts") == factsVersions)
      assert(Catalog.lastBatch(root).contains(0L))
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  private def memberVersions(root: String, table: String): Seq[Long] =
    graft.sources.Publish.listVersions(
      Paths.get(root, "tables", table)).sorted

  test("referential checks run against the CLEANED dim: a dim-drop leaves its facts dangling") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_catwap_dimdrop")
    try {
      // dim admits cust 10 and 13, but 13 violates the dim's OWN drop
      // expectation (even cust only) — so fact 2 (cust 13) references
      // a row that never reaches the published snapshot and must
      // quarantine as dangling, with the manifest count matching
      val dimExps = exps + ("dims" ->
        Seq(Wap.Expectation.drop("even_cust", col("cust") % 2 === 0)))
      assert(CatalogWapStream.applyBatch(
        Seq(StarRow(1, 10, 100, 1), StarRow(2, 13, 100, 1)).toDF(),
        0L, root, derivations, dimExps, refs))
      assert(Catalog.read(spark, root, "dims")
        .select("cust").as[Long].collect().toSet == Set(10L))
      assert(Catalog.read(spark, root, "facts")
        .select("order_id").as[Long].collect().toSet == Set(1L))
      val rej = Catalog.read(spark, root, CatalogWapStream.RejectsTable)
        .collect().map(r => (r.getString(0), r.getSeq[String](1).toList))
      assert(rej.toSet == Set(
        ("dims", List("even_cust")), ("facts", List("fact_has_dim"))))
      assert(Catalog.currentMetaValue(root, "expect.facts.fact_has_dim")
        .contains("1"))
      assert(Catalog.currentMetaValue(root, "expect.dims.even_cust")
        .contains("1"))

      // fail severity sees the cleaned dim too: the same shape ABORTS
      val failRefs = Seq(Referential(
        "fact_has_dim", "facts", Seq("cust"), "dims", Seq("cust"),
        Wap.Severity.Fail))
      val snapBefore = Catalog.currentVersion(root)
      val e = intercept[Wap.AuditFailed](CatalogWapStream.applyBatch(
        Seq(StarRow(3, 15, 100, 2)).toDF(), 1L, root,
        derivations, dimExps, failRefs))
      assert(e.counts("facts.fact_has_dim") == 1L)
      assert(Catalog.currentVersion(root) == snapBefore)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("chained referential drops: a dim pruned by an EARLIER referential drop cannot vouch for facts") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_catwap_chain")
    try {
      // three-level star: facts → mid → dims. dims only admits
      // cust < 100, so mid's cust-200 row is REFERENTIALLY dropped by
      // the first check; the second check must see that evolving
      // cleaned mid — fact 2 (cust 200) references a mid row that
      // never publishes and must cascade to quarantine, not dangle
      val deriv3: Map[String, (Option[DataFrame], DataFrame) => DataFrame] = Map(
        "facts" -> ((cur, b) => {
          val fresh = b.select(col("order_id"), col("cust"), col("amount"))
          cur.fold(fresh)(_.unionByName(fresh))
        }),
        "mid" -> ((cur, b) => {
          val fresh = b.select(col("cust")).distinct()
          cur.fold(fresh)(_.unionByName(fresh).distinct())
        }),
        "dims" -> ((cur, b) => {
          val fresh = b.where(col("cust") < 100).select(col("cust")).distinct()
          cur.fold(fresh)(_.unionByName(fresh).distinct())
        }))
      val chainRefs = Seq(
        Referential("mid_has_dim", "mid", Seq("cust"), "dims", Seq("cust"),
          Wap.Severity.Drop),
        Referential("fact_has_mid", "facts", Seq("cust"), "mid", Seq("cust"),
          Wap.Severity.Drop))
      assert(CatalogWapStream.applyBatch(
        Seq(StarRow(1, 10, 100, 1), StarRow(2, 200, 50, 1)).toDF(),
        0L, root, deriv3, Map.empty, chainRefs))
      assert(Catalog.read(spark, root, "mid")
        .select("cust").as[Long].collect().toSet == Set(10L))
      assert(Catalog.read(spark, root, "facts")
        .select("order_id").as[Long].collect().toSet == Set(1L),
        "fact referencing the referentially-quarantined mid row must drop")
      val rej = Catalog.read(spark, root, CatalogWapStream.RejectsTable)
        .collect().map(r => (r.getString(0), r.getSeq[String](1).toList))
      assert(rej.toSet == Set(
        ("mid", List("mid_has_dim")), ("facts", List("fact_has_mid"))))
      assert(Catalog.currentMetaValue(root, "expect.mid.mid_has_dim").contains("1"))
      assert(Catalog.currentMetaValue(root, "expect.facts.fact_has_mid").contains("1"))
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("a crash BETWEEN audit and catalog flip leaks nothing; the retried batch commits exactly once") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_catwap_crash")
    try {
      assert(CatalogWapStream.applyBatch(
        Seq(StarRow(1, 10, 100, 1)).toDF(), 0L, root, derivations, exps, refs))
      val snapBefore = Catalog.currentVersion(root)
      val factsBefore = Catalog.read(spark, root, "facts")
        .select("order_id").as[Long].collect().toSet

      // crash injection through the CommitStore seam: every member
      // publish succeeds, then the CATALOG pointer flip dies — the
      // exact window where torn state could leak
      val prior = graft.sources.Publish.store
      graft.sources.Publish.store = new graft.sources.CommitStore {
        private val d = graft.sources.LocalCommitStore
        def tryCreate(p: java.nio.file.Path) = d.tryCreate(p)
        def ageMs(p: java.nio.file.Path) = d.ageMs(p)
        def touch(p: java.nio.file.Path) = d.touch(p)
        def deleteIfExists(p: java.nio.file.Path) = d.deleteIfExists(p)
        def moveExclusive(s: java.nio.file.Path, t: java.nio.file.Path) =
          d.moveExclusive(s, t)
        def putAtomic(p: java.nio.file.Path, v: String) =
          if (p.getFileName.toString == "_CATALOG_CURRENT")
            throw new java.io.IOException("injected crash at the catalog flip")
          else d.putAtomic(p, v)
        def get(p: java.nio.file.Path) = d.get(p)
      }
      try intercept[Exception](CatalogWapStream.applyBatch(
        Seq(StarRow(2, 11, 50, 1)).toDF(), 1L, root, derivations, exps, refs))
      finally graft.sources.Publish.store = prior

      // nothing observable moved: catalog pointer, batch cursor, and
      // every member READ THROUGH THE CATALOG are the old snapshot
      // (member version dirs staged by the dead writer are invisible
      // garbage — readers resolve pins, never directory listings)
      assert(Catalog.currentVersion(root) == snapBefore)
      assert(Catalog.lastBatch(root).contains(0L))
      assert(Catalog.read(spark, root, "facts")
        .select("order_id").as[Long].collect().toSet == factsBefore)

      // the RETRIED batch is not a replay (its marker never
      // committed): it re-derives from the old snapshot and commits
      assert(CatalogWapStream.applyBatch(
        Seq(StarRow(2, 11, 50, 1)).toDF(), 1L, root, derivations, exps, refs))
      assert(Catalog.read(spark, root, "facts")
        .select("order_id").as[Long].collect().toSet == Set(1L, 2L))
      assert(Catalog.lastBatch(root).contains(1L))
      // and the referenced-set vacuum reaps the dead writer's orphan
      // member versions without touching any pinned one
      Catalog.expireSnapshots(root, keepLast = 2): Unit
      Catalog.vacuum(root): Unit
      assert(Catalog.read(spark, root, "facts")
        .select("order_id").as[Long].collect().toSet == Set(1L, 2L))
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("S29r: the audited snapshot ingest survives a mid-backlog kill-and-restart") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_catwap_restart")
    try {
      val first = Seq(
        Seq(StarRow(1, 10, 100, 1)).toDF(),
        Seq(StarRow(2, 11, -1, 2), StarRow(3, 11, 30, 2)).toDF(),
        Seq(StarRow(4, 200, 40, 3)).toDF())
      val second = Seq(
        Seq(StarRow(5, 12, 50, 4)).toDF())
      graft.streaming.DurableReplay.runForeachRestart(spark, first, second,
        (stream, ckpt) => CatalogWapStream.start(
          stream, root, derivations, exps, refs,
          checkpointLocation = Some(ckpt)),
        () => Catalog.lastBatch(root))
      // batch-sequential outcome whatever the kill interrupted: 2
      // dropped (amount), 4 dropped (no dim), 1/3/5 admitted
      assert(Catalog.read(spark, root, "facts")
        .select("order_id").as[Long].collect().toSet == Set(1L, 3L, 5L))
      assert(Catalog.read(spark, root, "dims")
        .select("cust").as[Long].collect().toSet == Set(10L, 11L, 12L))
      assert(Catalog.lastBatch(root).contains(3L))
      // one snapshot per batch — a replayed batch would inflate
      assert(Catalog.currentVersion(root).contains(4L))
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }
}

package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.{Deletes, GraftCatalog, Merge, Publish}
import graft.tools.Scratch

/** The SQL front door (sources/GraftCatalog): published tables served
  * to plain SQL through a DSv2 TableCatalog — live pointer, VERSION
  * AS OF, TIMESTAMP AS OF — with manifest-schema conformance for
  * evolved tables, deletion-vector refusal, listTables, and the
  * read-only write refusals. */
class GraftCatalogSpec extends SparkSpec {

  private var n = 0
  /** Fresh catalog per test: instances cache their root at first
    * reference, so each test registers a uniquely-named catalog. */
  private def catalogFor(root: String): String = {
    n += 1
    val cat = s"gcat$n"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    cat
  }

  test("live, VERSION AS OF, and TIMESTAMP AS OF resolve through the version layout") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_cat_sql")
    try {
      val tdir = Paths.get(root, "t").toString
      Publish.publish((1L to 10L).toDF("x"), tdir): Unit
      Thread.sleep(60)
      Publish.publish((1L to 25L).toDF("x"), tdir): Unit
      val cat = catalogFor(root)

      assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 25L)
      assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 1")
        .head.getLong(0) == 10L)
      // timestamp literal at v1's commit time (session TZ is UTC)
      val t1 = Publish.commitTimeMs(tdir, 1L)
      val lit = java.time.Instant.ofEpochMilli(t1).toString.replace("T", " ").stripSuffix("Z")
      assert(spark.sql(
        s"SELECT count(*) FROM $cat.t TIMESTAMP AS OF '$lit'").head.getLong(0) == 10L)
      // filters and aggregates ride the native parquet scan
      assert(spark.sql(s"SELECT sum(x) FROM $cat.t WHERE x <= 3").head.getLong(0) == 6L)
      // before-first-commit refuses
      intercept[Exception] {
        spark.sql(s"SELECT * FROM $cat.t TIMESTAMP AS OF '2001-01-01 00:00:00'").collect()
      }
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("post-evolution versions conform to the manifest schema through SQL") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_cat_evo")
    try {
      val tdir = Paths.get(root, "t").toString
      Publish.publishStaged(spark, tdir) { staging =>
        Files.createDirectories(Paths.get(staging)): Unit
        Seq(1L to 50L, 51L to 100L).foreach { r =>
          r.map(i => (i, i * 2)).toDF("id", "v")
            .coalesce(1).write.mode("append").parquet(staging)
        }
      }: Unit
      Merge.mergeIntoPublished(spark, tdir,
        Seq((60L, -1L, "tagged")).toDF("id", "v", "tag"),
        keys = Seq("id"),
        set = Map("v" -> Merge.s("v"), "tag" -> Merge.s("tag")),
        evolveSchema = true): Unit
      val cat = catalogFor(root)
      // the carried old-width file's rows surface tag as NULL in SQL
      val got = spark.sql(
        s"SELECT count(*), count(tag) FROM $cat.t").head
      assert(got.getLong(0) == 100L && got.getLong(1) == 1L,
        s"manifest-schema conformance broken through SQL: $got")
      assert(spark.sql(s"SELECT v FROM $cat.t WHERE tag IS NOT NULL")
        .head.getLong(0) == -1L)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("SQL writes commit through the protocol: INSERT appends via CAS, OVERWRITE publishes, history is read-only") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_cat_write")
    try {
      val tdir = Paths.get(root, "t").toString
      Publish.publish((1L to 10L).toDF("x"), tdir): Unit
      val cat = catalogFor(root)

      spark.sql(s"INSERT INTO $cat.t VALUES (100), (101)")
      // the insert is a REAL version commit: pointer advanced, rows
      // appended exactly once, prior files carried
      assert(Publish.currentVersion(tdir).contains(2L))
      assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 12L)
      assert(Publish.read(spark, tdir).agg(sum("x")).head.getLong(0) ==
        (1L to 10L).sum + 201L)
      // time travel still serves the pre-insert version
      assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 1")
        .head.getLong(0) == 10L)

      spark.sql(s"INSERT OVERWRITE $cat.t VALUES (7)")
      assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 1L)
      assert(Publish.currentVersion(tdir).contains(3L))
      // ...and the overwritten history remains time-travelable
      assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 2")
        .head.getLong(0) == 12L)

      // inserting INTO HISTORY is refused by capability
      intercept[Exception] {
        spark.sql(s"INSERT INTO $cat.t VERSION AS OF 1 VALUES (1)")
      }
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("snapshot mode: SQL joins read ONE consistent catalog horizon; AS OF is snapshot-grained") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_cat_snap")
    try {
      def facts(n: Long) = (1L to n).map(i => (i, i % 3)).toDF("id", "grp")
      def rates(r: Long) = (0L to 2L).map(g => (g, r)).toDF("grp", "rate")
      graft.sources.Catalog.publishAll(spark, root,
        Map("facts" -> facts(10), "rates" -> rates(1))): Unit
      Thread.sleep(60)
      graft.sources.Catalog.publishAll(spark, root,
        Map("facts" -> facts(30), "rates" -> rates(2))): Unit
      // facts' own pointer moves ahead of the catalog: a torn state
      Publish.publish(facts(99),
        Paths.get(root, "tables", "facts").toString): Unit

      n += 1
      val cat = s"gsnap$n"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      spark.conf.set(s"spark.sql.catalog.$cat.mode", "snapshot")

      // live = snapshot 2's pins (NOT facts' own newer pointer)
      val live = spark.sql(
        s"""SELECT sum(f.id * r.rate) FROM $cat.facts f
           |JOIN $cat.rates r USING (grp)""".stripMargin).head.getLong(0)
      assert(live == (1L to 30L).sum * 2, s"snapshot-inconsistent join: $live")
      // VERSION AS OF 1 = snapshot 1: BOTH tables at their old pins
      val old = spark.sql(
        s"""SELECT sum(f.id * r.rate) FROM $cat.facts VERSION AS OF 1 f
           |JOIN $cat.rates VERSION AS OF 1 r USING (grp)""".stripMargin).head.getLong(0)
      assert(old == (1L to 10L).sum, s"snapshot-1 resolution wrong: $old")
      // TIMESTAMP AS OF snapshot 1's commit: same horizon
      val t1 = graft.sources.Catalog.snapshotTimeMs(root, 1L)
      val lit1 = java.time.Instant.ofEpochMilli(t1).toString
        .replace("T", " ").stripSuffix("Z")
      assert(spark.sql(
        s"SELECT count(*) FROM $cat.facts TIMESTAMP AS OF '$lit1'")
        .head.getLong(0) == 10L)
      assert(spark.sql(s"SHOW TABLES IN $cat").collect()
        .map(_.getString(1)).toSet == Set("facts", "rates"))
      // maintenance procedures are refused on a snapshot facade:
      // member tables maintain through their own plain catalogs
      val perr = intercept[Exception](
        spark.sql(s"CALL $cat.compact(`table` => 'facts')"))
      assert(Iterator.iterate(perr: Throwable)(_.getCause)
        .takeWhile(_ != null).take(5)
        .exists(_.getMessage.contains("snapshot")), s"got: $perr")
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("DV versions are refused, writes are refused, listTables lists published roots") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_cat_dv")
    try {
      val tdir = Paths.get(root, "t").toString
      Publish.publish((1L to 100L).toDF("x"), tdir): Unit
      Publish.publish((1L to 5L).toDF("y"), Paths.get(root, "u").toString): Unit
      // a non-table directory must not list
      Files.createDirectories(Paths.get(root, "not_a_table")): Unit
      val cat = catalogFor(root)
      assert(spark.sql(s"SHOW TABLES IN $cat").collect()
        .map(_.getString(1)).toSet == Set("t", "u"))

      Deletes.deleteFromPublished(spark, tdir, col("x") <= 10L): Unit
      val e = intercept[Exception](spark.sql(s"SELECT count(*) FROM $cat.t").collect())
      assert(e.getMessage.contains("deletion vector"),
        s"sidecar-blind serve not refused: ${e.getMessage}")
      // the pre-delete version still serves
      assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 1")
        .head.getLong(0) == 100L)

      // rename stays refused (DROP/CREATE/ALTER-ADD are now verbs of
      // the commit protocol — the DDL test covers them)
      intercept[Exception](spark.sql(s"ALTER TABLE $cat.u RENAME TO w"))
      assert(spark.sql(s"SELECT count(*) FROM $cat.u").head.getLong(0) == 5L)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("SQL DDL: CREATE TABLE / CTAS / ALTER ADD COLUMNS / DROP ride the commit protocol") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_cat_ddl")
    try {
      val cat = catalogFor(root)
      // CREATE TABLE: an empty schema-bearing version, immediately queryable
      spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v BIGINT)")
      assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 0L)
      assert(Publish.currentVersion(Paths.get(root, "t").toString).contains(1L))
      // CREATE on an existing table refuses
      intercept[Exception](spark.sql(s"CREATE TABLE $cat.t (x INT)"))
      // INSERT into the fresh table rides Txn.append
      spark.sql(s"INSERT INTO $cat.t VALUES (1, 10), (2, 20)")
      assert(spark.sql(s"SELECT sum(v) FROM $cat.t").head.getLong(0) == 30L)

      // CTAS: create-from-query in one statement
      spark.sql(s"CREATE TABLE $cat.u AS SELECT id, v * 2 AS w FROM $cat.t")
      assert(spark.sql(s"SELECT sum(w) FROM $cat.u").head.getLong(0) == 60L)

      // ALTER ADD COLUMNS: metadata-only — the live data files carry
      // byte-identically, old rows read the new column as NULL
      val uDir = Paths.get(root, "u").toString
      val vBefore = Publish.currentVersion(uDir).get
      val filesBefore = graft.sources.Compact
        .listDataFiles(Paths.get(uDir).resolve(s"v=$vBefore").toString).toMap
      spark.sql(s"ALTER TABLE $cat.u ADD COLUMNS (tag STRING)")
      val vAfter = Publish.currentVersion(uDir).get
      val filesAfter = graft.sources.Compact
        .listDataFiles(Paths.get(uDir).resolve(s"v=$vAfter").toString).toMap
      assert(vAfter == vBefore + 1)
      filesBefore.foreach { case (name, size) =>
        assert(filesAfter.get(name).contains(size), s"$name not carried intact")
      }
      assert(spark.sql(s"SELECT count(*) FROM $cat.u WHERE tag IS NULL")
        .head.getLong(0) == 2L)
      // wide inserts land next to the narrow carries
      spark.sql(s"INSERT INTO $cat.u VALUES (9, 90, 'late')")
      assert(spark.sql(s"SELECT tag FROM $cat.u WHERE id = 9").head.getString(0) == "late")
      // pre-alter history still serves the narrow schema
      assert(!spark.sql(s"SELECT * FROM $cat.u VERSION AS OF $vBefore")
        .columns.contains("tag"))
      // non-add ALTERs refuse: carried bytes would change meaning
      intercept[Exception](spark.sql(s"ALTER TABLE $cat.u DROP COLUMN w"))

      // DROP TABLE retires the layout; the name is reusable
      spark.sql(s"DROP TABLE $cat.t")
      intercept[Exception](spark.sql(s"SELECT * FROM $cat.t").collect())
      assert(!Files.exists(Paths.get(root, "t")))
      spark.sql(s"CREATE TABLE $cat.t (fresh STRING)")
      assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 0L)
      // PARTITIONED BY refuses — layout is stats-manifest clustering
      intercept[Exception](
        spark.sql(s"CREATE TABLE $cat.p (a INT, b INT) PARTITIONED BY (b)"))
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("metadata tables: t$history and t$files serve manifest accounting through SQL") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_cat_meta")
    try {
      val tdir = Paths.get(root, "t").toString
      Publish.publish((1L to 100L).toDF("x").repartition(2), tdir): Unit
      graft.sources.Txn.append(spark,
        tdir, (101L to 150L).toDF("x").repartition(1)): Unit
      val cat = catalogFor(root)

      val hist = spark.sql(
        s"SELECT version, n_rows, n_files, is_live FROM $cat.`t$$history` ORDER BY version")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
      assert(hist.toSeq == Seq((1L, 100L, 2, false), (2L, 150L, 3, true)), hist.toSeq)
      // committed_at and byte totals agree with the manifest readers
      val t2 = spark.sql(
        s"SELECT committed_at_ms FROM $cat.`t$$history` WHERE version = 2")
        .head.getLong(0)
      assert(t2 == Publish.commitTimeMs(tdir, 2L))

      // $files: one row per (version, data file), bytes = on-disk
      val files = spark.sql(
        s"SELECT version, file, bytes FROM $cat.`t$$files`").collect()
      assert(files.count(_.getLong(0) == 2L) == 3)
      files.foreach { r =>
        val p = Paths.get(tdir, s"v=${r.getLong(0)}", r.getString(1))
        assert(Files.size(p) == r.getLong(2), s"bytes off for $p")
      }
      // the inspection plan never scans data: it is a LocalScan
      val plan = spark.sql(s"SELECT * FROM $cat.`t$$history`")
        .queryExecution.executedPlan.toString
      assert(plan.contains("LocalTableScan") || plan.contains("LocalScan"), plan)

      // unknown suffix and missing base fail loudly
      intercept[Exception](spark.sql(s"SELECT * FROM $cat.`t$$snapshots`").collect())
      intercept[Exception](spark.sql(s"SELECT * FROM $cat.`nope$$history`").collect())
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("t$changes: the change feed as a SQL relation — distributed scan, version-bound pushdown, retention refusal") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_cat_changes")
    try {
      val tdir = Paths.get(root, "t").toString
      // v1 publish → v2 MERGE (update 2, delete 3, insert 11) → v3 DV delete 5
      Publish.publish((1L to 10L).map(i => (i, i * 100L)).toDF("id", "v"), tdir): Unit
      Merge.mergeIntoPublished(spark, tdir,
        Seq((2L, 999L, false), (3L, 0L, true), (11L, 1100L, false))
          .toDF("id", "v", "doom"),
        keys = Seq("id"),
        set = Map("v" -> Merge.s("v")),
        deleteWhen = Some(Merge.s("doom")),
        insertWhen = Some(!col("doom"))): Unit
      Deletes.deleteFromPublished(spark, tdir, col("id") === 5L): Unit

      val cat = catalogFor(root)
      spark.conf.set(s"spark.sql.catalog.$cat.changes.t.keys", "id")
      val sqlFeed = spark.sql(
        s"SELECT id, change_type, old_v, new_v, from_version, to_version " +
          s"FROM $cat.`t$$changes` ORDER BY from_version, id")
      val got = sqlFeed.collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)),
          Option(r.get(3)), r.getLong(4), r.getLong(5)))
      val api = graft.operators.Scd.changeFeedBetween(
        spark, tdir, 1L, 3L, keys = Seq("id"), valueCols = Seq("v"))
        .collect().map(r => (r.getLong(0), r.getString(1), Option(r.get(2)),
          Option(r.get(3)), r.getLong(4), r.getLong(5))).toSet
      assert(got.toSet == api && got.length == api.size, got.toSeq)
      // spot semantics: the DV delete surfaces as a delete in step 2→3
      assert(got.contains((5L, "delete", Some(500L), None, 2L, 3L)))
      assert(got.contains((11L, "insert", None, Some(1100L), 1L, 2L)))

      // served by a distributed row scan, never a LocalScan
      val plan = sqlFeed.queryExecution.executedPlan.toString
      assert(!plan.contains("LocalTableScan"), plan)

      // version bounds narrow the computed steps (pushdown) — only
      // the 2→3 step's rows come back
      val step2 = spark.sql(
        s"SELECT id, change_type FROM $cat.`t$$changes` WHERE from_version >= 2")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(step2.toSet == Set((5L, "delete")), step2.toSeq)

      // expire v1. The relation re-resolves its horizon per query
      // (earliest=2 now), so WHERE from_version >= 1 is a REDUNDANT
      // filter — it cannot change the rows of a feed that already
      // starts at 2 and must serve them, not refuse: whether Spark
      // happens to push a no-op predicate must never flip a query
      // into a retention error (filter semantics, not a history ask)
      Publish.expireVersions(tdir, keepLast = 2): Unit
      assert(spark.sql(
        s"SELECT count(*) FROM $cat.`t$$changes` WHERE from_version >= 1")
        .head.getLong(0) == 1L,
        "a redundant pushed lower bound must clamp, not refuse")
      // …and the unfiltered surviving span serves identically
      val cat2 = catalogFor(root)
      spark.conf.set(s"spark.sql.catalog.$cat2.changes.t.keys", "id")
      assert(spark.sql(s"SELECT count(*) FROM $cat2.`t$$changes`")
        .head.getLong(0) == 1L)
      // vacuumed history is an EXPLICIT ask: the startVersion option
      // passes verbatim and refuses with the retention error
      val cat4 = catalogFor(root)
      spark.conf.set(s"spark.sql.catalog.$cat4.changes.t.keys", "id")
      spark.conf.set(s"spark.sql.catalog.$cat4.changes.t.startVersion", "1")
      val e2 = intercept[Exception](spark.sql(
        s"SELECT * FROM $cat4.`t$$changes`").collect())
      assert(e2.getMessage.contains("retention"), e2.getMessage)
      // …and a pushed lower bound must NOT bypass the refusal: the
      // option is validated against the horizon up front, so a query
      // carrying WHERE from_version >= earliest still refuses instead
      // of silently serving the truncated feed
      val e3 = intercept[Exception](spark.sql(
        s"SELECT * FROM $cat4.`t$$changes` WHERE from_version >= 2").collect())
      assert(e3.getMessage.contains("retention"), e3.getMessage)
      // …while a surviving startVersion serves normally
      val cat5 = catalogFor(root)
      spark.conf.set(s"spark.sql.catalog.$cat5.changes.t.keys", "id")
      spark.conf.set(s"spark.sql.catalog.$cat5.changes.t.startVersion", "2")
      assert(spark.sql(s"SELECT count(*) FROM $cat5.`t$$changes`")
        .head.getLong(0) == 1L)

      // a catalog with NO feed-key declaration fails with the hint
      val cat3 = catalogFor(root)
      val miss = intercept[Exception](spark.sql(
        s"SELECT * FROM $cat3.`t$$changes`").collect())
      assert(miss.getMessage.contains("feed keys"), miss.getMessage)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("a data table whose NAME contains '$' still resolves as a plain table") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_cat_dollar")
    try {
      val tdir = Paths.get(root, "we$rd").toString
      Publish.publish((1L to 7L).toDF("x"), tdir): Unit
      val cat = catalogFor(root)
      assert(spark.sql(s"SELECT count(*) FROM $cat.`we$$rd`").head.getLong(0) == 7L)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("CALL advise_recluster: the measured maintenance verdict from SQL") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_cat_advrecl")
    try {
      // publish an arrival-ordered layout (files = s runs, each
      // spanning all users), then ask the verdict for a user workload
      val data = (0 until 80).map(i => (i.toLong % 8, i.toLong)).toDF("u", "s")
      Publish.publish(
        data.repartitionByRange(4, col("s")).sortWithinPartitions("s"),
        Paths.get(root, "t").toString): Unit
      val cat = catalogFor(root)
      val row = spark.sql(
        s"""CALL $cat.advise_recluster(`table` => 't',
           |  dims => 'u:u,s:s', workload => '1:u:2:3;2:u:6:6',
           |  layouts => 'u|s', amortize_runs => 4)""".stripMargin).head
      assert(row.getString(0) == "u")
      assert(row.getLong(1) == 160L, s"measured: $row") // 2 queries x all 80 rows
      assert(row.getLong(3) == 80L)
      assert(row.getBoolean(4), s"arrival-ordered layout must advise recluster: $row")
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("CALL admit_batch: manifest-pruned admission, per-batch key collapse, freshness across calls") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_cat_admit")
    try {
      Publish.publish(Seq((1L, 2L), (2L, 4L)).toDF("id", "fp"),
        Paths.get(root, "corpus").toString): Unit
      // batch1: one corpus dup (4), an internal dup pair (5, 5), a
      // newcomer (7) — the internal pair must collapse to its min row
      Publish.publish(Seq((10L, 4L), (12L, 5L), (11L, 5L), (13L, 7L)).toDF("id", "fp"),
        Paths.get(root, "batch1").toString): Unit
      Publish.publish(Seq((20L, 5L), (21L, 9L)).toDF("id", "fp"),
        Paths.get(root, "batch2").toString): Unit
      val cat = catalogFor(root)

      val r1 = spark.sql(
        s"CALL $cat.admit_batch(`table` => 'corpus', batch => 'batch1')").head
      assert((r1.getLong(0), r1.getLong(1), r1.getLong(2), r1.getLong(3)) ==
        ((4L, 2L, 2L, 2L)), s"call 1: $r1")
      // min-struct collapse admitted (11, 5), not (12, 5)
      val corpus1 = spark.sql(s"SELECT id, fp FROM $cat.corpus")
        .as[(Long, Long)].collect().toSet
      assert(corpus1 == Set((1L, 2L), (2L, 4L), (11L, 5L), (13L, 7L)),
        s"corpus after call 1: $corpus1")

      // batch2 overlaps call 1's ADMISSIONS (5) — rejecting it proves
      // the incremental manifest refresh saw the appended keys
      val r2 = spark.sql(
        s"CALL $cat.admit_batch(`table` => 'corpus', batch => 'batch2')").head
      assert((r2.getLong(0), r2.getLong(1), r2.getLong(3)) == ((2L, 1L, 3L)),
        s"call 2: $r2")
      // replaying batch1 admits nothing and the version stays put
      val r3 = spark.sql(
        s"CALL $cat.admit_batch(`table` => 'corpus', batch => 'batch1')").head
      assert(r3.getLong(1) == 0L && r3.getLong(3) == 3L, s"call 3: $r3")
      val corpusF = spark.sql(s"SELECT id, fp FROM $cat.corpus")
        .as[(Long, Long)].collect().toSet
      assert(corpusF == corpus1 + ((21L, 9L)), s"final corpus: $corpusF")
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("snapshot-catalog CALL expire_snapshots ≡ the API sweep; surviving pins stay readable") {
    val sess = spark
    import sess.implicits._
    def build(): String = {
      val root = Scratch.tempDir("graft_cat_snapret")
      (1 to 3).foreach { i =>
        graft.sources.Catalog.publishAll(spark, root,
          Map("t" -> (1L to i * 10L).toDF("x"),
            "u" -> (1L to i * 5L).toDF("y"))): Unit
        Thread.sleep(30)
      }
      root
    }
    val sqlRoot = build()
    val apiRoot = build()
    try {
      n += 1
      val cat = s"gsnapret$n"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", sqlRoot)
      spark.conf.set(s"spark.sql.catalog.$cat.mode", "snapshot")

      val got = spark.sql(
        s"CALL $cat.expire_snapshots(keep_last => 2)").collect()(0)
      val apiReaped = graft.sources.Catalog.expireSnapshots(apiRoot, keepLast = 2)
      // SQL-invoked sweep ≡ API sweep: same reaped (table, version) set
      assert(got.getInt(0) == apiReaped.size && got.getString(1) ==
        apiReaped.map { case (t, v) => s"$t:$v" }.sorted.mkString(","),
        s"sql=$got api=$apiReaped")
      assert(got.getInt(0) == 2 && got.getString(1) == "t:1,u:1", s"got=$got")
      // pins honored: surviving snapshots 2 and 3 still resolve their
      // member versions through SQL time travel…
      assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 2")
        .head.getLong(0) == 20L)
      assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 30L)
      // …and the expired snapshot refuses rather than mis-serving
      intercept[Exception](
        spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 1").collect())

      // vacuum (keep=1) reaps snapshot 2's now-unreferenced pins
      val vac = spark.sql(s"CALL $cat.vacuum(keep => 1)").collect()(0)
      assert(vac.getInt(0) == 2 && vac.getString(1) == "t:2,u:2", s"vac=$vac")
      assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 30L)
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(sqlRoot))
      graft.sources.Sinks.deleteRecursively(Paths.get(apiRoot))
    }
  }

  test("CALL procedures: incremental compact, vacuum, expire — atomic versions, lossless, accounted") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_cat_proc")
    try {
      val tdir = Paths.get(root, "t").toString
      // fragment the table: publish + two CAS appends of small files
      Publish.publish(
        (1L to 4000L).toDF("x").repartition(6), tdir): Unit
      graft.sources.Txn.append(spark,
        tdir, (4001L to 6000L).toDF("x").repartition(6)): Unit
      graft.sources.Txn.append(spark,
        tdir, (6001L to 8000L).toDF("x").repartition(6)): Unit
      val cat = catalogFor(root)
      val filesBefore = graft.sources.Compact.listDataFiles(
        Paths.get(tdir).resolve("v=3").toString).size

      val c = spark.sql(
        s"CALL $cat.compact(`table` => 't', target_mb => 64)").collect()
      assert(c.length == 1)
      val (v, carried, rewritten) =
        (c(0).getLong(0), c(0).getInt(1), c(0).getInt(2))
      assert(v == 4L && rewritten > 1 && carried + rewritten == filesBefore,
        s"compact accounting off: v=$v carried=$carried rewritten=$rewritten")
      // lossless through the SQL read path, fewer files on disk
      assert(spark.sql(s"SELECT count(*), sum(x) FROM $cat.t").head ==
        org.apache.spark.sql.Row(8000L, 8000L * 8001L / 2))
      assert(graft.sources.Compact.listDataFiles(
        Paths.get(tdir).resolve(s"v=$v").toString).size < filesBefore)

      // vacuum: reaps all but the live + keep window
      val vac = spark.sql(
        s"CALL $cat.vacuum(`table` => 't', keep => 0)").collect()(0)
      assert(vac.getInt(0) == 3 && vac.getString(1) == "1,2,3", s"vacuum: $vac")
      assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 8000L)

      // expire_versions on a fresh history: keep_last bounds survivors
      graft.sources.Txn.append(spark, tdir, Seq(9001L).toDF("x")): Unit
      graft.sources.Txn.append(spark, tdir, Seq(9002L).toDF("x")): Unit
      val ex = spark.sql(
        s"CALL $cat.expire_versions(`table` => 't', keep_last => 2)").collect()(0)
      assert(ex.getInt(0) == 1 && ex.getString(1) == "4", s"expire: $ex")
      assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 8002L)

      // unknown procedure names fail loudly, with the menu
      val err = intercept[Exception](
        spark.sql(s"CALL $cat.optimize(`table` => 't')"))
      // Spark wraps the catalog's error as FAILED_TO_LOAD_ROUTINE;
      // the procedure menu rides the cause
      assert(err.getMessage.contains("optimize"))
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }
}

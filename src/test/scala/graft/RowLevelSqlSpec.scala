package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.{Compact, Deletes, GraftCatalog, Publish}
import graft.tools.Scratch

/** SQL row-level writes through the catalog
  * (plans/RowLevelSqlBridge): DELETE / UPDATE / MERGE INTO statements
  * against GraftCatalog live tables run the library's commit-protocol
  * operators — versioned, file-pruned, time-travel-preserving — with
  * the WHEN NOT MATCHED BY SOURCE branches, clause-order semantics,
  * and the refusal surface (history targets, snapshot mode,
  * subqueries). */
class RowLevelSqlSpec extends SparkSpec {

  private var n = 0
  private def catalogFor(root: String): String = {
    n += 1
    val cat = s"grl$n"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    cat
  }

  private def sha(p: java.nio.file.Path): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
    java.util.Base64.getEncoder.encodeToString(d.digest(Files.readAllBytes(p)))
  }

  /** A four-file (id, grp, payload) table under `root/t`; returns the
    * table dir. */
  private def fourFileTable(root: String): String = {
    val sess = spark
    import sess.implicits._
    val tdir = Paths.get(root, "t").toString
    Publish.publishStaged(spark, tdir) { staging =>
      Files.createDirectories(Paths.get(staging)): Unit
      Seq(1L to 1000L, 1001L to 2000L, 2001L to 3000L, 3001L to 4000L).foreach { r =>
        r.map(i => (i, i % 5, s"p$i")).toDF("id", "grp", "payload")
          .coalesce(1).write.mode("append").parquet(staging)
      }
    }: Unit
    tdir
  }

  test("SQL DELETE: versioned copy-on-write, file-pruned, history preserved") {
    val root = Scratch.tempDir("graft_sql_del")
    try {
      val tdir = fourFileTable(root)
      val v1Dir = Paths.get(tdir).resolve("v=1")
      val v1Hashes = Compact.listDataFiles(v1Dir.toString)
        .map { case (nm, _) => nm -> sha(v1Dir.resolve(nm)) }.toMap
      val cat = catalogFor(root)

      spark.sql(s"DELETE FROM $cat.t WHERE id BETWEEN 1500 AND 1600 AND grp <> 2")
      assert(Publish.currentVersion(tdir).contains(2L))
      val after = spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0)
      // 101 ids in range, 1/5 of them grp=2 survivors
      val doomed = (1500L to 1600L).count(i => i % 5 != 2)
      assert(after == 4000L - doomed, s"after=$after doomed=$doomed")
      assert(spark.sql(
        s"SELECT count(*) FROM $cat.t WHERE id BETWEEN 1500 AND 1600")
        .head.getLong(0) == 101L - doomed)
      // only the file holding 1001..2000 was rewritten
      val v2Dir = Paths.get(tdir).resolve("v=2")
      val carriedSame = Compact.listDataFiles(v2Dir.toString)
        .count { case (nm, _) => v1Hashes.get(nm).contains(sha(v2Dir.resolve(nm))) }
      assert(carriedSame == 3, s"expected 3 byte-identical carried files, got $carriedSame")
      // history is intact
      assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 1")
        .head.getLong(0) == 4000L)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("SQL UPDATE: SET expressions over target columns, pruned rewrite") {
    val root = Scratch.tempDir("graft_sql_upd")
    try {
      val tdir = fourFileTable(root)
      val cat = catalogFor(root)
      spark.sql(
        s"UPDATE $cat.t SET payload = concat('u', payload), grp = grp + 10 " +
          "WHERE id BETWEEN 2100 AND 2150")
      assert(Publish.currentVersion(tdir).contains(2L))
      val upd = spark.sql(
        s"SELECT grp, payload FROM $cat.t WHERE id = 2100").head
      assert(upd.getLong(0) == 2100 % 5 + 10 && upd.getString(1) == "up2100")
      assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 4000L)
      assert(spark.sql(
        s"SELECT count(*) FROM $cat.t WHERE payload LIKE 'u%'").head.getLong(0) == 51L)
      // untouched row unchanged; pruning recorded in the manifest
      assert(spark.sql(s"SELECT payload FROM $cat.t WHERE id = 1")
        .head.getString(0) == "p1")
      assert(Publish.currentMetaValue(tdir, "rewritten").contains("1"))
      assert(Publish.currentMetaValue(tdir, "carried").contains("3"))
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("SQL MERGE: all five clause kinds with clause-order semantics") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_sql_merge")
    try {
      val tdir = fourFileTable(root)
      val cat = catalogFor(root)
      // source: an op-tagged delta — D rows delete, U rows update,
      // I rows insert (one I row fails the insert condition)
      val src = (
        (1500L to 1510L).map(i => (i, "U", s"upd$i")) ++
        (2100L to 2110L).map(i => (i, "D", "x")) ++
        Seq((9001L, "I", "new9001"), (9002L, "SKIP", "new9002"))
      ).toDF("key", "op", "pay")
      src.createOrReplaceTempView("graft_sql_merge_src")

      spark.sql(
        s"""MERGE INTO $cat.t AS t
           |USING graft_sql_merge_src AS s
           |ON t.id = s.key
           |WHEN MATCHED AND s.op = 'D' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET payload = s.pay, grp = -1
           |WHEN NOT MATCHED AND s.op = 'I' THEN
           |  INSERT (id, grp, payload) VALUES (s.key, 7, concat('ins_', s.pay))
           |WHEN NOT MATCHED BY SOURCE AND t.id > 3990 THEN DELETE
           |""".stripMargin)

      assert(Publish.currentVersion(tdir).contains(2L))
      val got = spark.table(s"$cat.t")
      // 4000 - 11 (matched deletes) - 10 (by-source tail 3991..4000) + 1 insert
      assert(got.count() == 4000L - 11L - 10L + 1L, s"count=${got.count()}")
      assert(got.where(col("id").between(2100, 2110)).count() == 0,
        "matched DELETE missed")
      assert(got.where(col("id") > 3990 && col("id") <= 4000).count() == 0,
        "NOT MATCHED BY SOURCE delete missed")
      val u = got.where(col("id") === 1505L).select("grp", "payload")
        .as[(Long, String)].head()
      assert(u == ((-1L, "upd1505")), s"update wrong: $u")
      val ins = got.where(col("id") === 9001L).select("grp", "payload")
        .as[(Long, String)].head()
      assert(ins == ((7L, "ins_new9001")), s"insert wrong: $ins")
      assert(got.where(col("id") === 9002L).count() == 0,
        "conditional insert leaked a SKIP row")
      // a non-source, non-tail row is untouched
      assert(got.where(col("id") === 1L).select("payload").as[String].head() == "p1")
      // history intact
      assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 1")
        .head.getLong(0) == 4000L)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("SQL MERGE full-sync: unconditional NOT MATCHED BY SOURCE DELETE rebuilds to the source") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_sql_sync")
    try {
      val tdir = fourFileTable(root)
      val cat = catalogFor(root)
      // the reference's DELETE+INSERT rebuild: target must end exactly
      // = source (updates for survivors, inserts for new, deletes for
      // the rest)
      val src = ((500L to 520L) ++ Seq(9100L))
        .map(i => (i, s"s$i")).toDF("key", "pay")
      src.createOrReplaceTempView("graft_sql_sync_src")
      spark.sql(
        s"""MERGE INTO $cat.t t USING graft_sql_sync_src s ON t.id = s.key
           |WHEN MATCHED THEN UPDATE SET payload = s.pay
           |WHEN NOT MATCHED THEN INSERT (id, grp, payload) VALUES (s.key, 0, s.pay)
           |WHEN NOT MATCHED BY SOURCE THEN DELETE
           |""".stripMargin)
      val got = spark.table(s"$cat.t").orderBy("id")
        .select("id", "payload").as[(Long, String)].collect().toSeq
      val want = ((500L to 520L) ++ Seq(9100L)).map(i => (i, s"s$i"))
      assert(got == want, s"full-sync mismatch: got ${got.take(5)}...")
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("SQL MERGE: NOT MATCHED BY SOURCE UPDATE branch") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_sql_bsu")
    try {
      val tdir = fourFileTable(root)
      val cat = catalogFor(root)
      Seq((1L, "z")).toDF("key", "pay").createOrReplaceTempView("graft_sql_bsu_src")
      spark.sql(
        s"""MERGE INTO $cat.t t USING graft_sql_bsu_src s ON t.id = s.key
           |WHEN MATCHED THEN UPDATE SET payload = s.pay
           |WHEN NOT MATCHED BY SOURCE AND t.id <= 3 THEN UPDATE SET payload = 'stale'
           |""".stripMargin)
      val got = spark.table(s"$cat.t").where(col("id") <= 4)
        .orderBy("id").select("payload").as[String].collect().toSeq
      assert(got == Seq("z", "stale", "stale", "p4"), s"by-source update wrong: $got")
      assert(spark.table(s"$cat.t").count() == 4000L)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("refusals: history targets, snapshot mode, and subqueries") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_sql_refuse")
    try {
      val tdir = fourFileTable(root)
      val cat = catalogFor(root)
      // row-level SQL against HISTORY: the time-travel load carries no
      // write marker, so the statement fails (Spark's own capability
      // error) and the table is untouched
      intercept[Exception] {
        spark.sql(s"DELETE FROM $cat.t VERSION AS OF 1 WHERE id = 1")
      }
      assert(Publish.currentVersion(tdir).contains(1L), "history delete committed!")

      // snapshot mode: read-only facade, no bridge routing
      graft.sources.Catalog.publishAll(spark, Paths.get(root, "snap").toString,
        Map("t" -> (1L to 5L).toDF("x"))): Unit
      n += 1
      val scat = s"grlsnap$n"
      spark.conf.set(s"spark.sql.catalog.$scat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$scat.root", Paths.get(root, "snap").toString)
      spark.conf.set(s"spark.sql.catalog.$scat.mode", "snapshot")
      intercept[Exception] {
        spark.sql(s"DELETE FROM $scat.t WHERE x = 1")
      }

      // subqueries in the condition refuse loudly (no approximation)
      val e = intercept[Exception] {
        spark.sql(s"DELETE FROM $cat.t WHERE id IN (SELECT id + 1 FROM $cat.t)")
      }
      assert(e.getMessage.contains("subquer") || e.getMessage.contains("Subquer"),
        s"wrong refusal: ${e.getMessage}")
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("SQL writes compose with deletion vectors: DV state folds, never resurrects") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_sql_dv")
    try {
      val tdir = fourFileTable(root)
      // DV-delete 100..200 through the API, then SQL-delete more: the
      // rewrite folds the touched files' DV, carries the others' slice
      Deletes.deleteFromPublished(spark, tdir, col("id").between(100, 200)): Unit
      val cat = catalogFor(root)
      spark.sql(s"DELETE FROM $cat.t WHERE id BETWEEN 300 AND 350")
      // v3's touched file 1 folded BOTH ranges; the table has no
      // sidecar left (file 1 was the only DV carrier), so SQL serves it
      val live = Deletes.readPublished(spark, tdir)
      assert(live.count() == 4000L - 101L - 51L)
      assert(live.where(col("id").between(100, 200)).count() == 0,
        "SQL delete resurrected DV-deleted rows")
      assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) ==
        4000L - 101L - 51L)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }
}

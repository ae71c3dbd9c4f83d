package graft

import java.nio.file.Paths

import org.apache.spark.sql.functions._

import graft.sources.{Deletes, Merge, Publish, Txn}
import graft.tools.Scratch

/** S26 (streaming/ChangeFeedSource): a published table consumed as a
  * structured stream — offsets ARE version numbers, the opening batch
  * is the initial snapshot as inserts, every later commit (append,
  * MERGE, deletion-vector delete) arrives as classified changes with
  * version lineage, and a checkpoint restart resumes at the first
  * unconsumed version without re-emitting history. */
class ChangeFeedSourceSpec extends SparkSpec {

  private val Fmt = "graft.streaming.ChangeFeedSourceProvider"

  test("S26: snapshot-then-deltas, every commit kind classified, restart resumes at the version offset") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_cdcsrc")
    val ckpt = Scratch.tempDir("graft_cdcsrc_ckpt")
    val out = Scratch.tempDir("graft_cdcsrc_out") + "/feed"
    def feed(): Set[(Long, String, Long, Long)] = spark.read.parquet(out)
      .select(col("id"), col("change_type"), col("from_version"), col("to_version"))
      .as[(Long, String, Long, Long)].collect().toSet
    try {
      Publish.publish(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), root): Unit

      // a RESTARTABLE sink (parquet + checkpoint): the restart half of
      // this test is the point, and the memory sink cannot recover
      def startQuery() = spark.readStream
        .format(Fmt)
        .option("root", root).option("keys", "id").option("values", "v")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()

      val q1 = startQuery()
      try {
        q1.processAllAvailable()
        // opening batch: the v1 snapshot as inserts with lineage 0→1
        assert(feed() == Set((1L, "insert", 0L, 1L), (2L, "insert", 0L, 1L)))

        // an append commit streams as inserts 1→2
        Txn.append(spark, root, Seq((3L, 30L)).toDF("id", "v")): Unit
        q1.processAllAvailable()
        assert(feed().contains((3L, "insert", 1L, 2L)))

        // a MERGE commit streams as its update 2→3
        Merge.mergeIntoPublished(spark, root,
          Seq((2L, 25L)).toDF("id", "v"),
          keys = Seq("id"), set = Map("v" -> Merge.s("v"))): Unit
        q1.processAllAvailable()
        assert(feed().contains((2L, "update", 2L, 3L)))
      } finally q1.stop()
      val beforeRestart = feed()

      // two MORE commits while no consumer runs: a DV delete and an
      // append — the restarted query must emit exactly the unconsumed
      // versions (3→4, 4→5), never re-emit history
      Deletes.deleteFromPublished(spark, root, col("id") === 1L): Unit
      Txn.append(spark, root, Seq((9L, 90L)).toDF("id", "v")): Unit

      val q2 = startQuery()
      try {
        q2.processAllAvailable()
        val resumed = feed() -- beforeRestart
        assert(resumed == Set(
          (1L, "delete", 3L, 4L), (9L, "insert", 4L, 5L)),
          s"restart re-emitted or skipped: $resumed")
        assert(feed().size == beforeRestart.size + 2, "history re-emitted")
      } finally q2.stop()
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
      graft.sources.Sinks.deleteRecursively(Paths.get(ckpt))
      graft.sources.Sinks.deleteRecursively(Paths.get(out).getParent)
    }
  }

  test("S26: feed values carry old/new sides; schema is the manifest's types") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_cdcsrc2")
    try {
      Publish.publish(Seq((1L, 10L)).toDF("id", "v"), root): Unit
      Publish.publish(Seq((1L, 11L)).toDF("id", "v"), root): Unit
      val df = spark.readStream.format(Fmt)
        .option("root", root).option("keys", "id").option("values", "v")
        .load()
      assert(df.schema.fieldNames.toSeq ==
        Seq("id", "change_type", "old_v", "new_v", "from_version", "to_version"))
      val q = df.writeStream.format("memory").queryName("cdc_vals").start()
      try {
        q.processAllAvailable()
        val got = spark.table("cdc_vals")
          .where(col("change_type") === "update")
          .select("old_v", "new_v").as[(Long, Long)].collect().toSeq
        assert(got == Seq((10L, 11L)), s"old/new sides wrong: $got")
      } finally q.stop()
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("S26 ≡ t$changes: the streaming and SQL feed surfaces agree row-for-row") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_cdcsrc_sql")
    try {
      val tdir = Paths.get(root, "t").toString
      Publish.publish(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), tdir): Unit
      Txn.append(spark, tdir, Seq((3L, 30L)).toDF("id", "v")): Unit
      Merge.mergeIntoPublished(spark, tdir,
        Seq((2L, 25L)).toDF("id", "v"),
        keys = Seq("id"), set = Map("v" -> Merge.s("v"))): Unit
      Deletes.deleteFromPublished(spark, tdir, col("id") === 1L): Unit

      // stream the whole history through S26 (memory sink — no
      // restart here, parity is the point)
      val q = spark.readStream.format(Fmt)
        .option("root", tdir).option("keys", "id").option("values", "v")
        .load()
        .writeStream.format("memory").queryName("graft_cdc_parity").start()
      try q.processAllAvailable() finally q.stop()
      val streamed = spark.table("graft_cdc_parity")
        .where(col("from_version") > 0) // boot snapshot has no SQL twin
        .select("id", "change_type", "old_v", "new_v",
          "from_version", "to_version")
        .collect().map(_.toSeq).toSet

      val cat = "gcdcpar" + (tdir.hashCode.toLong & 0xffffffffL)
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      spark.conf.set(s"spark.sql.catalog.$cat.changes.t.keys", "id")
      val sql = spark.sql(
        s"SELECT id, change_type, old_v, new_v, from_version, to_version " +
          s"FROM $cat.`t$$changes`")
        .collect().map(_.toSeq).toSet
      assert(streamed == sql && sql.nonEmpty,
        s"surfaces diverge:\nstream=$streamed\nsql=$sql")
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("S26 sugar: tableChanges resolves root/keys/values from the catalog conf; misconfig refuses") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_cdcsrc_sugar")
    try {
      val tdir = Paths.get(root, "t").toString
      Publish.publish(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), tdir): Unit
      Txn.append(spark, tdir, Seq((3L, 30L)).toDF("id", "v")): Unit

      val cat = "gcdcsug" + (tdir.hashCode.toLong & 0xffffffffL)
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      // keys unset → refusal names the conf key to set
      val miss = intercept[IllegalArgumentException] {
        graft.streaming.ChangeFeedSource.tableChanges(spark, s"$cat.t")
      }
      assert(miss.getMessage.contains(s"spark.sql.catalog.$cat.changes.t.keys"))

      spark.conf.set(s"spark.sql.catalog.$cat.changes.t.keys", "id")
      // values resolve from the live manifest schema minus keys
      val q = graft.streaming.ChangeFeedSource.tableChanges(spark, s"$cat.t")
        .writeStream.format("memory").queryName("graft_cdc_sugar").start()
      try q.processAllAvailable() finally q.stop()
      val sugar = spark.table("graft_cdc_sugar")
        .select("id", "change_type", "old_v", "new_v", "from_version", "to_version")
        .collect().map(_.toSeq).toSet

      // ≡ the explicit-options form, column for column
      val q2 = spark.readStream.format(Fmt)
        .option("root", tdir).option("keys", "id").option("values", "v")
        .load()
        .writeStream.format("memory").queryName("graft_cdc_sugar_ref").start()
      try q2.processAllAvailable() finally q2.stop()
      val explicit = spark.table("graft_cdc_sugar_ref")
        .select("id", "change_type", "old_v", "new_v", "from_version", "to_version")
        .collect().map(_.toSeq).toSet
      assert(sugar == explicit && sugar.nonEmpty,
        s"sugar diverges from explicit options:\n$sugar\n$explicit")

      // a snapshot-mode catalog is the OTHER machinery's job
      spark.conf.set(s"spark.sql.catalog.$cat.mode", "snapshot")
      val snap = intercept[IllegalArgumentException] {
        graft.streaming.ChangeFeedSource.tableChanges(spark, s"$cat.t")
      }
      assert(snap.getMessage.contains("CatalogStream"))
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("S26: a new subscriber boots from the oldest RETAINED version after v=1 is vacuumed") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_cdcsrc3")
    try {
      // three versions, then a vacuum that reaps v1 (keep=1 retains
      // the live v3 + newest old v2) — the r8 advisor's stream-can-
      // never-start case: the old hardcoded v=1 bootstrap threw forever
      Publish.publish(Seq((1L, 10L)).toDF("id", "v"), root): Unit
      Txn.append(spark, root, Seq((2L, 20L)).toDF("id", "v")): Unit
      Txn.append(spark, root, Seq((3L, 30L)).toDF("id", "v")): Unit
      assert(Publish.vacuum(root, keep = 1) == Seq(1L))

      val df = spark.readStream.format(Fmt)
        .option("root", root).option("keys", "id").option("values", "v")
        .load()
      val q = df.writeStream.format("memory").queryName("cdc_boot").start()
      try {
        q.processAllAvailable()
        val got = spark.table("cdc_boot")
          .select(col("id"), col("change_type"), col("from_version"), col("to_version"))
          .as[(Long, String, Long, Long)].collect().toSet
        // boot = v2's snapshot as inserts (lineage 1→2), then the
        // v2→v3 delta — the full live state, no gap, no v1 read
        assert(got == Set(
          (1L, "insert", 1L, 2L), (2L, "insert", 1L, 2L),
          (3L, "insert", 2L, 3L)), s"bootstrap-from-horizon wrong: $got")
      } finally q.stop()
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }
}

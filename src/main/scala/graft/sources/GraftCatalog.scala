package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The SQL front door: a DataSource-V2 `TableCatalog` exposing every
  * [[Publish]]-versioned table under a root directory to PLAIN SQL —
  * including standard time-travel syntax mapped straight onto the
  * version layout:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.lake", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.lake.root", "/data/lake")
  *   spark.sql("SELECT * FROM lake.events")                          // live pointer
  *   spark.sql("SELECT * FROM lake.events VERSION AS OF 3")          // readVersion
  *   spark.sql("SELECT * FROM lake.events TIMESTAMP AS OF '…'")      // readAsOf
  * }}}
  *
  * Each load resolves a version DIRECTORY (live pointer, explicit
  * version, or newest committed_at ≤ the timestamp — exactly
  * [[Publish.readVersion]]/[[Publish.readAsOf]]'s resolution) and
  * serves it through Spark's own `ParquetTable`, so scans get the
  * full native read stack: vectorized reader, pushed filters, column
  * pruning, AQE. The schema handed to the scan is the version
  * MANIFEST's (the [[Publish.readConformed]] authority), so a
  * post-evolution version's carried old-width files read their
  * missing columns as NULL through SQL too.
  *
  * SQL WRITES exist exactly where they can ride the commit protocol:
  * the LIVE table load carries a V1Write bridge, so `INSERT INTO`
  * commits through [[Txn.append]] (carry + new files + CAS with
  * rebase retry — racing SQL inserts serialize with no lost update)
  * and `INSERT OVERWRITE` publishes a fresh validated version behind
  * the same atomic flip; history loads carry no write capability
  * (Spark itself refuses inserts against `VERSION AS OF`), and
  * snapshot-mode tables stay read-only (a per-table insert cannot
  * express the multi-table flip). DDL rides the protocol too:
  * CREATE TABLE / CTAS publish an empty schema version then append,
  * ALTER TABLE ADD COLUMNS is a metadata-only widen (files carried
  * byte-identically), DROP TABLE retires the layout; rename and
  * non-add alters throw. A version carrying a `_deletes` sidecar is
  * REFUSED rather than served sidecar-blind (deletes are semantics;
  * [[Deletes.readPublished]] is that read path) — serving deleted
  * rows silently would be a correctness bug wearing a convenience
  * feature's clothes.
  *
  * At 100 TB nothing here is per-row: resolution is pointer/manifest
  * reads, and the data path is the stock parquet scan.
  */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var root: String = _
  private var snapshotMode: Boolean = false
  private var catOptions: CaseInsensitiveStringMap = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    catOptions = options
    root = options.get("root")
    require(root != null,
      s"catalog '$name' needs spark.sql.catalog.$name.root")
    // mode=snapshot: `root` is a graft.sources.Catalog root — tables
    // resolve through the live SNAPSHOT's pins, so a SQL join across
    // tables can never straddle a flip (q121's consistency argument
    // at the SQL surface); VERSION AS OF n = snapshot n's pin,
    // TIMESTAMP AS OF t = the newest snapshot committed ≤ t
    snapshotMode = "snapshot".equalsIgnoreCase(options.get("mode"))
  }

  override def name(): String = catalogName

  private def tableRoot(ident: Identifier): String =
    if (snapshotMode)
      Paths.get(root, "tables").resolve(
        Paths.get(ident.namespace().mkString("/"),
          ident.name()).toString).toString
    else Paths.get(root, (ident.namespace() :+ ident.name()): _*).toString

  /** The table version a given CATALOG SNAPSHOT pins, failing as
    * no-such-table when the table is absent from it. */
  private def pinnedVersion(ident: Identifier, snapshot: Long): Long =
    Catalog.tableVersionsIn(root, snapshot).getOrElse(ident.name(), noSuch(ident))

  private def noSuch(ident: Identifier): Nothing =
    throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)

  private def tableAt(
      ident: Identifier, version: Long, writable: Boolean = false): Table = {
    val tr = tableRoot(ident)
    val dir = Paths.get(tr).resolve(s"v=$version")
    if (!Files.exists(dir)) noSuch(ident)
    val dvRefusal =
      if (Files.exists(Paths.get(Deletes.deletesPath(dir.toString))))
        Some(s"version $version of ${ident.name()} carries a deletion vector — " +
          "serve it through Deletes.readPublished, not the sidecar-blind SQL scan")
      else None
    // read-only loads exist only to be scanned, so a DV version
    // refuses at load; the WRITABLE live load defers the refusal to
    // scan time — row-level SQL (MERGE/UPDATE/DELETE via the bridge)
    // reads through the sidecar itself and must stay addressable
    if (!writable) dvRefusal.foreach(m => throw new IllegalStateException(m))
    // the manifest schema is the authority (readConformed's contract):
    // mixed-width post-evolution versions read missing columns as NULL
    val schema = Publish.manifestSchemaDdl(tr, version).map(StructType.fromDDL)
    val parquet = ParquetTable(
      s"$catalogName.${ident.name()}",
      SparkSession.active,
      CaseInsensitiveStringMap.empty(),
      Seq(dir.toString),
      schema,
      classOf[ParquetFileFormat])
    if (writable) new GraftCatalog.WritableTable(parquet, tr, dvRefusal) else parquet
  }

  /** The metadata-table suffixes [[metaTable]] serves. Only these
    * route to the metadata path — a data table whose name happens to
    * contain '$' still resolves normally. */
  private val MetaSuffixes = Seq("$history", "$files", "$changes")

  override def loadTable(ident: Identifier): Table =
    if (MetaSuffixes.exists(s => ident.name().endsWith(s) &&
        ident.name().length > s.length)) metaTable(ident)
    else if (snapshotMode) {
      val snap = Catalog.currentVersion(root).getOrElse(noSuch(ident))
      // snapshot-mode tables stay read-only: a per-table SQL insert
      // cannot express the multi-table atomic flip readers rely on
      tableAt(ident, pinnedVersion(ident, snap))
    } else {
      val live = Publish.currentVersion(tableRoot(ident)).getOrElse(noSuch(ident))
      // the LIVE load (and only it) is writable: INSERT INTO commits
      // through the CAS protocol; time-travel loads have no write
      // capability, so Spark itself refuses inserts against history
      tableAt(ident, live, writable = true)
    }

  /** Metadata inspection tables — the Iceberg/Delta `t$history` /
    * `t$files` surface: `SELECT * FROM cat.`t$history`` lists every
    * version still on disk with its manifest accounting, `t$files`
    * lists every (version, data file). Driver-side manifest reads —
    * \|versions\| + \|files\| rows, never a data scan — served
    * through a LocalScan, so "how big is v3, when did it commit,
    * which files did the compactor rewrite" are one SQL query away
    * instead of an API call. Works in both catalog modes (the rows
    * describe the member table's own root). */
  private def metaTable(ident: Identifier): Table = {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val (base, kind) = ident.name().splitAt(ident.name().indexOf('$'))
    val tr = tableRoot(Identifier.of(ident.namespace(), base))
    if (Publish.currentVersion(tr).isEmpty) noSuch(ident)
    val versions = Publish.listVersions(Paths.get(tr)).sorted
    val live = Publish.currentVersion(tr).get
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def manifest(v: Long) = om.readTree(Files.readString(
      Paths.get(tr).resolve(s"v=$v").resolve("_manifest.json")))
    kind match {
      case "$history" =>
        val out = StructType(Seq(
          StructField("version", LongType, nullable = false),
          StructField("committed_at_ms", LongType, nullable = false),
          StructField("n_rows", LongType, nullable = false),
          StructField("n_files", IntegerType, nullable = false),
          StructField("total_bytes", LongType, nullable = false),
          StructField("is_live", BooleanType, nullable = false)))
        new GraftCatalog.MetaTable(s"$catalogName.${ident.name()}", out,
          versions.map { v =>
            val m = manifest(v)
            new GenericInternalRow(Array[Any](
              v, m.get("committed_at").asLong, m.get("rows").asLong,
              m.get("files").size, m.get("total_bytes").asLong,
              v == live)): org.apache.spark.sql.catalyst.InternalRow
          }.toArray)
      case "$files" =>
        val out = StructType(Seq(
          StructField("version", LongType, nullable = false),
          StructField("file", StringType, nullable = false),
          StructField("bytes", LongType, nullable = false)))
        new GraftCatalog.MetaTable(s"$catalogName.${ident.name()}", out,
          versions.flatMap { v =>
            val fs = manifest(v).get("files")
            (0 until fs.size).map { i =>
              new GenericInternalRow(Array[Any](
                v, UTF8String.fromString(fs.get(i).get("name").asText),
                fs.get(i).get("bytes").asLong)): org.apache.spark.sql.catalyst.InternalRow
            }
          }.toArray)
      case "$changes" =>
        // the q138 change feed as a SQL relation — data-sized, so it
        // is served through a real distributed scan (a V1Scan bridge
        // over Scd.changeFeedBetween's plan), never a driver
        // materialization; version bounds push down from WHERE
        // from_version/to_version predicates
        val keys = Option(catOptions.get(s"changes.$base.keys"))
          .map(_.split(',').map(_.trim).toSeq)
          .getOrElse(throw new UnsupportedOperationException(
            s"`$base$$changes` needs the table's feed keys — set " +
              s"spark.sql.catalog.$catalogName.changes.$base.keys " +
              "(comma-separated key columns, optionally " +
              s"…changes.$base.values) before the catalog's first use"))
        val baseSchema = Publish.manifestSchemaDdl(tr, live)
          .map(StructType.fromDDL)
          .getOrElse(Publish.read(SparkSession.active, tr).schema)
        val values = Option(catOptions.get(s"changes.$base.values"))
          .map(_.split(',').map(_.trim).toSeq)
          .getOrElse(baseSchema.fieldNames.toSeq.filterNot(keys.contains))
        (keys ++ values).foreach { c =>
          require(baseSchema.fieldNames.contains(c),
            s"feed column '$c' is not in ${ident.name()}'s schema " +
              s"(${baseSchema.fieldNames.mkString(", ")})")
        }
        new GraftCatalog.ChangesTable(
          s"$catalogName.${ident.name()}", tr, keys, values, baseSchema,
          earliest = versions.min, live = live,
          startVersion = Option(catOptions.get(s"changes.$base.startVersion"))
            .map(_.trim.toLong))
      case other => throw new UnsupportedOperationException(
        s"unknown metadata table suffix '$other' — available: " +
          s"`$base$$history`, `$base$$files`, `$base$$changes`")
    }
  }

  /** `VERSION AS OF n` — a table version (publish mode) or a CATALOG
    * SNAPSHOT (snapshot mode: every table asked at the same n reads
    * one consistent horizon). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = try version.toLong
    catch { case _: NumberFormatException => noSuch(ident) }
    if (snapshotMode) tableAt(ident, pinnedVersion(ident, v))
    else tableAt(ident, v)
  }

  /** `TIMESTAMP AS OF t` — Spark hands epoch MICROseconds. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val ms = timestampMicros / 1000L
    if (snapshotMode) {
      val snap = Catalog.snapshotAsOf(root, ms).getOrElse(
        throw new IllegalStateException(
          s"no catalog snapshot committed at or before $ms ms — expired past retention?"))
      tableAt(ident, pinnedVersion(ident, snap))
    } else {
      val v = Publish.versionAsOf(tableRoot(ident), ms)
        .getOrElse(throw new IllegalStateException(
          s"no version of ${ident.name()} committed at or before " +
            s"$ms ms — expired past retention?"))
      tableAt(ident, v)
    }
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    if (snapshotMode)
      Catalog.currentTableVersions(root).keys.toArray.sorted
        .map(Identifier.of(namespace, _))
    else {
      val dir = Paths.get(root, namespace: _*)
      if (!Files.exists(dir)) return Array.empty
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(p => Files.exists(p.resolve("_CURRENT")))
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .toArray
      finally s.close()
    }

  private def readOnly(): Nothing = throw new UnsupportedOperationException(
    s"catalog '$catalogName' is a read facade — write through the " +
      "Publish/Txn/Merge/Deletes commit protocol (CAS, validation, atomic flips)")

  /** `CREATE TABLE` / the create half of CTAS: version 1 is an EMPTY
    * published version whose manifest records the declared schema, so
    * the table is immediately readable (0 rows) and the CTAS write
    * that follows is an ordinary [[Txn.append]] — DDL rides the same
    * commit protocol as every other mutation. Partition transforms
    * are refused: layout here is version-dir + stats-manifest
    * clustering (ZOrder/LayoutAdvisor), not directory partitioning. */
  override def createTable(
      ident: Identifier, schema: StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String]): Table = {
    if (snapshotMode) readOnly()
    if (partitions.nonEmpty) throw new UnsupportedOperationException(
      "PARTITIONED BY is not supported — cluster through the stats-manifest " +
        "layout (ZOrder/LayoutAdvisor) instead of directory partitioning")
    val provider = Option(properties.get(TableCatalog.PROP_PROVIDER))
    if (!provider.forall(_.equalsIgnoreCase("parquet")))
      throw new UnsupportedOperationException(
        s"provider '${provider.get}' is not supported — tables are parquet versions")
    val tr = tableRoot(ident)
    if (Publish.currentVersion(tr).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(catalogName) ++ ident.namespace() :+ ident.name())
    val spark = SparkSession.active
    // one empty single-partition write → one schema-bearing footer,
    // which is all the validation read and the manifest need
    Publish.publish(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      .repartition(1), tr): Unit
    loadTable(ident)
  }

  /** `ALTER TABLE … ADD COLUMNS` as a METADATA-ONLY commit: a
    * [[Txn.append]] of one empty wide-schema file, so the new version
    * carries every live data file (and its deletion-vector slice)
    * byte-identically next to it, and the mergeSchema validation
    * read records the WIDENED manifest schema — existing rows read the new columns as NULL through the
    * [[Publish.readConformed]] contract, and not a data byte moves.
    * Everything else (drop/rename/retype) is refused: those change
    * what carried bytes MEAN, which this layout expresses as a
    * rewrite (MERGE/UPDATE), not metadata. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (snapshotMode) readOnly()
    val tr = tableRoot(ident)
    if (Publish.currentVersion(tr).isEmpty) noSuch(ident)
    val adds = changes.map {
      case a: TableChange.AddColumn =>
        if (a.fieldNames().length != 1) throw new UnsupportedOperationException(
          s"nested ADD COLUMN ${a.fieldNames().mkString(".")} is not supported")
        a
      case c => throw new UnsupportedOperationException(
        s"only ADD COLUMNS evolves the manifest schema metadata-only; $c " +
          "needs a rewrite — express it as MERGE/UPDATE through the commit protocol")
    }
    val spark = SparkSession.active
    val cur = Publish.liveManifestSchema(tr).getOrElse(Publish.read(spark, tr).schema)
    adds.foreach { a =>
      if (cur.fieldNames.exists(_.equalsIgnoreCase(a.fieldNames()(0))))
        throw new IllegalArgumentException(
          s"column ${a.fieldNames()(0)} already exists")
    }
    val wide = StructType(cur.fields ++ adds.map(a =>
      org.apache.spark.sql.types.StructField(
        a.fieldNames()(0), a.dataType(), nullable = true)))
    Txn.append(spark, tr, spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), wide).repartition(1)): Unit
    loadTable(ident)
  }

  /** `DROP TABLE`: retires the whole version layout — the destructive
    * verb SQL promises, also what CTAS failure cleanup calls. */
  override def dropTable(ident: Identifier): Boolean = {
    if (snapshotMode) readOnly()
    val tr = Paths.get(tableRoot(ident))
    if (!Files.exists(tr.resolve("_CURRENT"))) false
    else { Sinks.deleteRecursively(tr); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = readOnly()

  // ---- maintenance procedures (CALL cat.compact(table => '…')) ----

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.nonEmpty) Array.empty
    else (if (snapshotMode) GraftProcedures.SnapshotNames
          else GraftProcedures.Names)
      .map(Identifier.of(Array.empty[String], _)).toArray

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    if (snapshotMode)
      GraftProcedures.loadSnapshot(root, ident.name()).getOrElse {
        if (GraftProcedures.Names.contains(ident.name().toLowerCase))
          throw new UnsupportedOperationException(
            "table-grain maintenance runs on a plain table catalog — a snapshot " +
              "facade's member tables maintain through their own catalogs; " +
              "snapshot-grain retention is CALL expire_snapshots / vacuum here")
        throw new RuntimeException(
          s"no such procedure '${ident.name()}' in snapshot catalog " +
            s"'$catalogName' (available: ${GraftProcedures.SnapshotNames.mkString(", ")})")
      }
    else
      GraftProcedures.load(root, ident.name()).getOrElse(
        throw new RuntimeException(
          s"no such procedure '${ident.name()}' in catalog '$catalogName' " +
            s"(available: ${GraftProcedures.Names.mkString(", ")})"))
}

/** The maintenance loop as SQL procedures — `CALL` statements riding
  * the same commit protocol the writes do (Spark 4's DSv2
  * `ProcedureCatalog`, the Iceberg `CALL system.…` shape):
  *
  * {{{
  *   CALL lake.compact(table => 'events', target_mb => 64)
  *   CALL lake.vacuum(table => 'events', keep => 1)
  *   CALL lake.expire_versions(table => 'events', keep_last => 2)
  * }}}
  *
  * compact is the INCREMENTAL form ([[Compact.compactPublishedIncremental]]
  * — cost ∝ fragmentation, carries the streaming replay marker);
  * vacuum/expire are driver-side manifest work. Each returns one
  * result row of accounting (new version / files carried + rewritten,
  * versions reaped) through a `LocalScan`, so the caller sees what
  * the maintenance did without a second query. */
object GraftProcedures {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  val Names: Seq[String] =
    Seq("compact", "vacuum", "expire_versions", "advise_recluster",
      "admit_batch")

  /** Snapshot-catalog procedures — retention at the CATALOG grain
    * (the r8-verdict ask): `CALL snapcat.expire_snapshots(keep_last
    * => 2)` / `CALL snapcat.vacuum(keep => 1)` run
    * [[Catalog.expireSnapshots]]/[[Catalog.vacuum]] — dropped
    * snapshot manifests, then the referenced-set sweep, so a member
    * version any SURVIVING snapshot pins is never reaped (the pin
    * contract, spec-raced in RetentionSpec). */
  val SnapshotNames: Seq[String] = Seq("expire_snapshots", "vacuum")

  private def in(n: String, t: DataType) = ProcedureParameter.in(n, t).build()
  private def inDefault(n: String, t: DataType, d: String) =
    ProcedureParameter.in(n, t).defaultValue(d).build()

  private final class Proc(
      pname: String,
      params: Array[ProcedureParameter],
      out: StructType,
      body: InternalRow => InternalRow)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = pname
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val row = body(input)
      java.util.List.of[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = Array(row)
        override def readSchema(): StructType = out
      }).iterator()
    }
  }

  private def tableRoot(root: String, input: InternalRow): String =
    java.nio.file.Paths.get(root)
      .resolve(input.getUTF8String(0).toString).toString

  def load(root: String, name: String): Option[UnboundProcedure] =
    name.toLowerCase match {
      case "compact" => Some(new Proc("compact",
        Array(in("table", StringType),
          inDefault("target_mb", IntegerType, "64")),
        StructType(Seq(
          StructField("version", LongType, nullable = false),
          StructField("carried", IntegerType, nullable = false),
          StructField("rewritten", IntegerType, nullable = false))),
        input => {
          val (v, carried, rewritten) = Compact.compactPublishedIncremental(
            org.apache.spark.sql.SparkSession.active,
            tableRoot(root, input),
            targetBytes = input.getInt(1).toLong * 1024 * 1024)
          new GenericInternalRow(Array[Any](v, carried, rewritten))
        }))
      case "vacuum" => Some(new Proc("vacuum",
        Array(in("table", StringType), inDefault("keep", IntegerType, "1")),
        StructType(Seq(
          StructField("n_reaped", IntegerType, nullable = false),
          StructField("reaped", StringType, nullable = false))),
        input => {
          val reaped = Publish.vacuum(tableRoot(root, input), input.getInt(1))
          new GenericInternalRow(Array[Any](
            reaped.size, UTF8String.fromString(reaped.sorted.mkString(","))))
        }))
      // the q162 maintenance decision from SQL:
      //   CALL lake.advise_recluster(table => 't',
      //     dims => 'user:user_id,day:day_i',
      //     workload => '1:user:2:3;2:user:6:7',
      //     layouts => 'user|day', amortize_runs => 4)
      // One verdict row (best layout, measured vs modeled scan,
      // recluster/keep). Builds the live version's `_fstats` manifest
      // over the dim columns if absent (the ANALYZE-on-demand trade:
      // one scan, after which verdicts are manifest arithmetic).
      case "advise_recluster" => Some(new Proc("advise_recluster",
        Array(in("table", StringType), in("dims", StringType),
          in("workload", StringType), in("layouts", StringType),
          inDefault("amortize_runs", IntegerType, "4")),
        StructType(Seq(
          StructField("best_layout", StringType, nullable = false),
          StructField("measured_rows", LongType, nullable = false),
          StructField("predicted_rows", LongType, nullable = false),
          StructField("table_rows", LongType, nullable = false),
          StructField("recluster", BooleanType, nullable = false))),
        input => {
          val spark = org.apache.spark.sql.SparkSession.active
          val tr = tableRoot(root, input)
          val live = Publish.currentVersion(tr).getOrElse(
            throw new IllegalStateException(s"no published version at $tr"))
          val dir = java.nio.file.Paths.get(tr).resolve(s"v=$live").toString
          val dims = input.getUTF8String(1).toString.split(',').toSeq.map { d =>
            val Array(n, c) = d.split(':'); (n.trim, c.trim)
          }
          val workload = input.getUTF8String(2).toString.split(';').toSeq.map { q =>
            val Array(id, dm, lo, hi) = q.split(':')
            (id.trim.toLong, dm.trim, lo.trim.toLong, hi.trim.toLong)
          }
          val layouts = input.getUTF8String(3).toString.split('|').toSeq
            .map(_.split('+').map(_.trim).toSeq)
          if (!java.nio.file.Files.exists(
              java.nio.file.Paths.get(FileStats.statsPath(dir))))
            FileStats.build(spark, dir, cols = dims.map(_._2))
          val a = LayoutAdvisor.reclusterAdvice(
            spark, dir, dims, workload, layouts, input.getInt(4).toLong)
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(a.bestLayout),
            a.measuredRows, a.predictedRows, a.tableRows, a.recluster))
        }))
      case "expire_versions" => Some(new Proc("expire_versions",
        Array(in("table", StringType),
          inDefault("keep_last", IntegerType, "1"),
          inDefault("keep_within_ms", LongType, "0")),
        StructType(Seq(
          StructField("n_expired", IntegerType, nullable = false),
          StructField("expired", StringType, nullable = false))),
        input => {
          val reaped = Publish.expireVersions(
            tableRoot(root, input),
            keepLast = input.getInt(1),
            keepWithinMs = input.getLong(2))
          new GenericInternalRow(Array[Any](
            reaped.size, UTF8String.fromString(reaped.sorted.mkString(","))))
        }))
      // the q164 exact-dedup admission gate from SQL:
      //   CALL lake.admit_batch(table => 'corpus', batch => 'staged',
      //     key => 'fp')
      // Admits the batch member's rows whose integer `key` is not
      // already in the corpus member — via the corpus manifest's
      // (min, max) interval bin-join, so cost is |batch|+|files|
      // candidate arithmetic plus the colliding-range verify read,
      // never a corpus scan (Dedup.incrementalNew) — then appends
      // survivors through the CAS commit and refreshes the `_fstats`
      // manifest INCREMENTALLY (carried files re-point their rows;
      // only new files are scanned), so the NEXT admit's pruning sees
      // the keys this one added: calling twice with the same batch
      // admits zero the second time, which q168 hash-gates. Batch
      // rows sharing a key collapse to one deterministic
      // representative (min over the row struct) before the gate —
      // the corpus never gains an internal duplicate from one batch.
      // Builds the live version's manifest on first use (the
      // advise_recluster ANALYZE-on-demand trade). Single-writer, as
      // every maintenance verb here.
      case "admit_batch" => Some(new Proc("admit_batch",
        Array(in("table", StringType), in("batch", StringType),
          inDefault("key", StringType, "'fp'")),
        StructType(Seq(
          StructField("n_batch", LongType, nullable = false),
          StructField("n_admitted", LongType, nullable = false),
          StructField("n_rejected", LongType, nullable = false),
          StructField("version", LongType, nullable = false))),
        input => {
          import org.apache.spark.sql.functions.{col, min, struct}
          val spark = org.apache.spark.sql.SparkSession.active
          val tr = tableRoot(root, input)
          val br = java.nio.file.Paths.get(root)
            .resolve(input.getUTF8String(1).toString).toString
          val key = input.getUTF8String(2).toString
          val live = Publish.currentVersion(tr).getOrElse(
            throw new IllegalStateException(s"no published version at $tr"))
          val liveDir = java.nio.file.Paths.get(tr).resolve(s"v=$live").toString
          if (!java.nio.file.Files.exists(
              java.nio.file.Paths.get(FileStats.statsPath(liveDir))))
            FileStats.build(spark, liveDir, cols = Seq(key))
          val batchDf = Publish.read(spark, br)
          val cols = batchDf.columns
          val distinctBatch = batchDf.groupBy(col(key))
            .agg(min(struct(cols.map(col): _*)).as("__r"))
            .select(col("__r.*"))
          val admitted = graft.similarity.Dedup
            .incrementalNew(spark, liveDir, distinctBatch, key)
          val nBatch = batchDf.count()
          val nAdm = admitted.count()
          val v =
            if (nAdm == 0L) live
            else {
              val nv = Txn.append(spark, tr, admitted)
              FileStats.buildIncremental(spark,
                java.nio.file.Paths.get(tr).resolve(s"v=$nv").toString,
                cols = Seq(key), priorFrom = Some(liveDir)): Unit
              nv
            }
          new GenericInternalRow(Array[Any](nBatch, nAdm, nBatch - nAdm, v))
        }))
      case _ => None
    }

  private def reapedRow(reaped: Seq[(String, Long)]): GenericInternalRow =
    new GenericInternalRow(Array[Any](
      reaped.size, UTF8String.fromString(
        reaped.map { case (t, v) => s"$t:$v" }.sorted.mkString(","))))

  private val reapedSchema = StructType(Seq(
    StructField("n_reaped_versions", IntegerType, nullable = false),
    StructField("reaped", StringType, nullable = false)))

  def loadSnapshot(root: String, name: String): Option[UnboundProcedure] =
    name.toLowerCase match {
      case "expire_snapshots" => Some(new Proc("expire_snapshots",
        Array(inDefault("keep_last", IntegerType, "1"),
          inDefault("keep_within_ms", LongType, "0")),
        reapedSchema,
        input => reapedRow(Catalog.expireSnapshots(
          root, keepLast = input.getInt(0), keepWithinMs = input.getLong(1)))))
      case "vacuum" => Some(new Proc("vacuum",
        Array(inDefault("keep", IntegerType, "1")),
        reapedSchema,
        input => reapedRow(Catalog.vacuum(root, input.getInt(0)))))
      case _ => None
    }
}

object GraftCatalog {

  /** Marker + root accessor for the LIVE writable table — what lets
    * [[graft.plans.RowLevelSqlBridge]] recognize a GraftCatalog
    * target inside a MERGE/UPDATE/DELETE logical plan and route the
    * statement onto the library's commit protocol. Only the live
    * load implements it: time-travel and snapshot-mode loads stay
    * plain read-only tables, so row-level SQL against history fails
    * Spark's own capability check — the refusal contract. */
  trait GraftWritable { def graftRoot: String }

  /** A driver-computed metadata relation (`t$history` / `t$files`)
    * served through a LocalScan — bounded by |versions| + |files|
    * rows, never a data scan. */
  private[sources] final class MetaTable(
      tname: String,
      out: StructType,
      rowsData: Array[org.apache.spark.sql.catalyst.InternalRow])
    extends Table with SupportsRead {
    override def name(): String = tname
    override def schema(): StructType = out
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      () => new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = rowsData
        override def readSchema(): StructType = out
      }
  }

  /** `t$changes` — the change data feed ([[graft.operators.Scd.changeFeedBetween]])
    * as a SQL metadata relation: one insert/update/delete row per key
    * per commit step, with `from_version`/`to_version` lineage. The
    * feed is DATA-sized (each step is a full-outer key join of two
    * snapshots), so unlike `t$history`/`t$files` it is served through
    * a distributed scan: the DSv2 [[V1Scan]] bridge hands Spark the
    * feed plan's own RDD — every join/shuffle of the diff runs on
    * executors, nothing materializes on the driver. `WHERE
    * from_version >= a AND to_version <= b` predicates push into the
    * step range (only the asked snapshots are read and diffed — the
    * incremental one-step-per-tick consumption pattern straight from
    * SQL). WHERE bounds are FILTER semantics — the unfiltered relation
    * already starts at the surviving horizon, so a pushed lower bound
    * at or below it cannot change the result and clamps up (whether
    * Spark pushes a redundant predicate must never flip a query into
    * an error). Asking for history past the vacuumed horizon is the
    * dedicated `changes.<t>.startVersion` catalog option, which passes
    * VERBATIM and refuses with the retention error rather than serving
    * a silently truncated feed. */
  private[sources] final class ChangesTable(
      tname: String, tableRoot: String,
      keys: Seq[String], values: Seq[String], baseSchema: StructType,
      earliest: Long, live: Long, startVersion: Option[Long] = None)
    extends Table with SupportsRead {
    import org.apache.spark.sql.types._

    private val out: StructType = StructType(
      keys.map(k => baseSchema(k).copy(nullable = true)) ++
        Seq(StructField("change_type", StringType, nullable = false)) ++
        values.flatMap(v => Seq(
          StructField(s"old_$v", baseSchema(v).dataType, nullable = true),
          StructField(s"new_$v", baseSchema(v).dataType, nullable = true))) ++
        Seq(StructField("from_version", LongType, nullable = false),
          StructField("to_version", LongType, nullable = false)))

    override def name(): String = tname
    override def schema(): StructType = out
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)

    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder
          with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
        import org.apache.spark.sql.sources._
        // requested bounds, kept separate from the defaults. BOTH
        // directions of WHERE pushdown clamp: an upper bound past
        // `live` clamps down (no step above live ever existed) and a
        // lower bound at or below `earliest` clamps up (the relation
        // already starts there — the filter is redundant, and whether
        // Spark happens to push it must not change the result, let
        // alone turn it into a retention error). Only the explicit
        // startVersion OPTION reaches changeFeedBetween verbatim, so
        // asking for vacuumed history refuses instead of truncating.
        private var loReq: Option[Long] = None
        private var hiReq: Option[Long] = None
        private var accepted: Array[Filter] = Array.empty
        private def reqLo(v: Long): Unit = loReq = Some(loReq.fold(v)(_ max v))
        private def reqHi(v: Long): Unit = hiReq = Some(hiReq.fold(v)(_ min v))

        private def bound(f: Filter): Boolean = f match {
          case GreaterThanOrEqual("from_version", v: Long) => reqLo(v); true
          case GreaterThan("from_version", v: Long) => reqLo(v + 1); true
          case EqualTo("from_version", v: Long) => reqLo(v); reqHi(v + 1); true
          case LessThanOrEqual("to_version", v: Long) => reqHi(v); true
          case LessThan("to_version", v: Long) => reqHi(v - 1); true
          case EqualTo("to_version", v: Long) => reqHi(v); reqLo(v - 1); true
          case _ => false
        }

        override def pushFilters(filters: Array[Filter]): Array[Filter] = {
          accepted = filters.filter(bound)
          // every filter stays residual (Spark re-applies them post
          // scan) — the bounds only narrow which steps get computed
          filters
        }
        override def pushedFilters(): Array[Filter] = accepted

        // versions start at 1, so a lower bound below 1 is a no-op
        // filter, not a horizon request; pushed bounds clamp to the
        // surviving horizon, the startVersion option passes verbatim
        private def lo: Long = {
          // validate the explicit option against the surviving horizon
          // UP FRONT: a pushed lower bound (clamped to earliest) must
          // not out-max a below-horizon startVersion into silently
          // serving the truncated feed — refusal is the option's
          // contract whether or not Spark happened to push a predicate
          startVersion.foreach { sv =>
            if (math.max(sv, 1L) < earliest) throw new IllegalStateException(
              s"changes startVersion $sv on '$tname' is below the " +
              s"surviving horizon $earliest — history was vacuumed past " +
              "retention; refusing to serve a truncated feed")
          }
          val base = startVersion.getOrElse(earliest)
          val pushed = loReq.map(_ max earliest)
          math.max(pushed.fold(base)(p => math.max(base, p)), 1L)
        }
        private def hi: Long = hiReq.getOrElse(live) min live

        override def build(): org.apache.spark.sql.connector.read.Scan =
          new org.apache.spark.sql.connector.read.V1Scan {
            override def readSchema(): StructType = out
            override def toV1TableScan[T <: BaseRelation with TableScan](
                context: org.apache.spark.sql.SQLContext): T =
              (new BaseRelation with TableScan {
                override def sqlContext: org.apache.spark.sql.SQLContext = context
                override def schema: StructType = out
                override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
                  val spark = context.sparkSession
                  val feed =
                    if (lo >= hi) // empty requested range — empty feed
                      spark.createDataFrame(
                        new java.util.ArrayList[org.apache.spark.sql.Row](), out)
                    else graft.operators.Scd.changeFeedBetween(
                      spark, tableRoot, lo, hi, keys, values)
                  feed.select(out.map(f =>
                    org.apache.spark.sql.functions.col(f.name)
                      .cast(f.dataType).as(f.name)): _*).rdd
                }
              }).asInstanceOf[T]
          }
      }
  }

  /** The live table with the SQL WRITE path attached: reads delegate
    * to the native parquet scan; `INSERT INTO` / `INSERT OVERWRITE`
    * commit through the library's own protocol via the DSv2 V1Write
    * bridge — append = [[Txn.append]] (carry + new files + CAS with
    * rebase retry, so racing SQL inserts serialize with no lost
    * update), overwrite = a fresh validated [[Publish.publish]]
    * version behind the same atomic flip. SQL writes therefore get
    * exactly the guarantees API writes get — the alternative (a
    * pass-through file write into the version dir) would corrupt the
    * immutability contract every reader rests on. */
  private final class WritableTable(delegate: ParquetTable, tableRoot: String,
      dvRefusal: Option[String] = None)
    extends Table with SupportsRead with SupportsWrite with GraftWritable {

    override def graftRoot: String = tableRoot
    override def name(): String = delegate.name
    override def schema(): StructType = delegate.schema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(
        TableCapability.BATCH_READ,
        TableCapability.V1_BATCH_WRITE,
        TableCapability.TRUNCATE)

    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
      // a DV-carrying live version refuses the sidecar-blind SCAN but
      // stays addressable for row-level writes (which read through
      // the sidecar themselves)
      dvRefusal.foreach(m => throw new IllegalStateException(m))
      delegate.newScanBuilder(options)
    }

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
        private var overwrite = false
        override def truncate(): WriteBuilder = { overwrite = true; this }
        override def build(): Write = new V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                  legacyOverwrite: Boolean): Unit = {
                if (overwrite || legacyOverwrite)
                  Publish.publish(data, tableRoot): Unit
                else
                  Txn.append(data.sparkSession, tableRoot, data): Unit
              }
            }
        }
      }
  }
}

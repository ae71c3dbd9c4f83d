package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot-consistent MULTI-table publication — one atomic pointer
  * flip covering N tables.
  *
  * [[Publish]] makes a single table's refresh atomic; a serving layer
  * usually reads SEVERAL derived tables that must agree (the
  * reference's core_* update loop refreshes market data, transfers,
  * and profits in one orchestrated pass — a reader joining profits
  * against last cycle's market data reconciles to garbage). With
  * per-table pointers alone there is always a window where table A is
  * new and table B is old. The catalog closes it the way table
  * formats' multi-table transactions do: tables still publish
  * immutable `v=M` directories through [[Publish]]'s full
  * staging→validate→promote protocol, but readers route through a
  * CATALOG version — a manifest pinning one version per table —
  * whose pointer flips once, atomically, after every member table
  * has durably landed.
  *
  * Crash anatomy: each member table publishes first (its own pointer
  * flip is now an implementation detail catalog readers ignore); a
  * crash between table publishes or before the catalog flip leaves
  * new table versions on disk UNREFERENCED — catalog readers still
  * resolve the previous snapshot, every table at its old pinned
  * version, mutually consistent. The orphaned versions are reaped by
  * [[vacuum]], which keeps exactly the versions the retained catalog
  * snapshots reference (a table version may be pinned by several
  * snapshots when it didn't change — publishAll carries unchanged
  * tables by reference, zero bytes rewritten).
  *
  * Exactly-once for streams rides the same manifest: caller meta
  * (e.g. a micro-batch id) commits inside the catalog flip, so a
  * replayed batch is refused before any table write
  * ([[graft.streaming.CatalogStream]], the S15/S18 argument lifted
  * to N tables).
  *
  * Scale: the catalog file is |tables| lines of JSON; the flip is one
  * rename. Nothing here touches data paths — table bytes move
  * through Publish exactly as before, and a 1000-executor writer
  * parallelizes inside each table's stage step.
  */
object Catalog {

  private val Current = "_CATALOG_CURRENT"

  private def catDir(root: String): Path = Paths.get(root, "_catalog")
  private def tableRoot(root: String, table: String): String =
    Paths.get(root, "tables", table).toString

  /** Publish a consistent snapshot: stage every table as a fresh
    * Publish version (validated, immutable), then flip the ONE
    * catalog pointer. Tables absent from `tables` but present in the
    * live snapshot are CARRIED at their pinned version (zero bytes
    * moved). Returns the new catalog version. */
  def publishAll(
      spark: SparkSession,
      root: String,
      tables: Map[String, DataFrame],
      meta: Map[String, String] = Map.empty): Long = {
    require(tables.nonEmpty, "empty snapshot")
    tables.keys.foreach { t =>
      require(t.matches("[A-Za-z0-9_][A-Za-z0-9_.-]*"), s"unsafe table name '$t'")
    }
    val fresh = tables.toSeq.sortBy(_._1).map { case (t, df) =>
      t -> Publish.publish(df, tableRoot(root, t), meta)
    }
    // the q139 lost-update hazard at the CATALOG grain: two racing
    // publishAlls of DIFFERENT tables each carry the OTHER's pin from
    // the snapshot they started at — the later flip would resurrect a
    // stale pin and silently lose the earlier writer's table. The
    // member publishes above stay valid whatever the interleaving
    // (immutable versions), so the rebase is cheap: re-read the
    // carried pins against the NEW live snapshot and re-commit.
    var attempts = 0
    while (true) {
      val base = currentVersion(root)
      val carried = currentTableVersions(root) -- tables.keys
      try return commitIf(root, (carried.toSeq ++ fresh).sortBy(_._1), base, meta)
      catch {
        case _: Publish.CommitConflict =>
          attempts += 1
          if (attempts >= 8) throw new IllegalStateException(
            s"catalog publish at $root conflicted $attempts times")
      }
    }
    -1L // unreachable
  }

  /** [[commit]] with OPTIMISTIC CONCURRENCY: flip only if the live
    * snapshot is still `expectedLive` (None = no snapshot yet), else
    * throw [[Publish.CommitConflict]] — the commit-lock + CAS
    * protocol of [[Publish.publishStagedIf]] at the catalog grain. */
  def commitIf(
      root: String,
      pins: Seq[(String, Long)],
      expectedLive: Option[Long],
      meta: Map[String, String] = Map.empty): Long = {
    val dir = catDir(root)
    Files.createDirectories(dir)
    Publish.withCommitLock(dir) {
      val live = currentVersion(root)
      if (live != expectedLive) throw new Publish.CommitConflict(expectedLive, live)
      commitLocked(root, pins, meta)
    }
  }

  /** The commit step alone — pin the given (table, version) set and
    * flip the pointer. Exposed for callers that stage table versions
    * themselves; versions must already exist under `tables/<t>/v=V`. */
  def commit(
      root: String,
      pins: Seq[(String, Long)],
      meta: Map[String, String] = Map.empty): Long = {
    val dir = catDir(root)
    Files.createDirectories(dir)
    // unchecked last-wins, but serialized under the same lock so
    // interleaved committers can never corrupt the snapshot sequence
    Publish.withCommitLock(dir)(commitLocked(root, pins, meta))
  }

  private def commitLocked(
      root: String,
      pins: Seq[(String, Long)],
      meta: Map[String, String]): Long = {
    val dir = catDir(root)
    val version = listSnapshots(root).maxOption.getOrElse(0L) + 1L
    // the Publish marker rule at the catalog grain: the live
    // snapshot's replay marker carries unless `meta` sets it
    val marker =
      if (meta.contains(Publish.ReplayMarker)) None
      else currentMetaValue(root, Publish.ReplayMarker).map(Publish.ReplayMarker -> _)
    val pinsJson = pins.sortBy(_._1)
      .map { case (t, v) => s"${Publish.jsonStr(t)}:$v" }.mkString("{", ",", "}")
    val manifest =
      s"""{"version":$version,"committed_at":${System.currentTimeMillis()},""" +
        s""""tables":$pinsJson,"meta":${Publish.metaJson(meta ++ marker)}}"""
    // manifest is durable BEFORE the pointer references it; the flip
    // is the only observable step (Publish's exact protocol, through
    // the same CommitStore seam — object stores map it onto the
    // conditional-PUT pointer swap)
    Files.write(dir.resolve(s"snap-$version.json"),
      manifest.getBytes(StandardCharsets.UTF_8))
    Publish.store.putAtomic(dir.resolve(Current), version.toString)
    version
  }

  /** The live catalog version, if any. */
  def currentVersion(root: String): Option[Long] =
    Publish.store.get(catDir(root).resolve(Current)).map(_.trim.toLong)

  /** The live snapshot's pinned (table → Publish version). */
  def currentTableVersions(root: String): Map[String, Long] =
    currentVersion(root).map(tableVersions(root, _)).getOrElse(Map.empty)

  /** Snapshot `version`'s pinned (table → Publish version) — the
    * resolution surface [[GraftCatalog]]'s snapshot mode rides. */
  def tableVersionsIn(root: String, version: Long): Map[String, Long] =
    if (Files.exists(catDir(root).resolve(s"snap-$version.json")))
      tableVersions(root, version)
    else Map.empty

  /** Caller meta recorded in the live snapshot's manifest (Publish's
    * reader: the `meta` object, parsed with Jackson). */
  def currentMetaValue(root: String, key: String): Option[String] =
    currentVersion(root).flatMap(v => Publish.metaValueIn(manifestText(root, v), key))

  /** The last micro-batch id committed to `root`'s catalog, if any —
    * [[Publish.lastBatch]] at the catalog grain. */
  def lastBatch(root: String): Option[Long] =
    currentMetaValue(root, Publish.ReplayMarker).map(_.toLong)

  /** The newest snapshot committed ≤ `asOfMs`, if any — resolution
    * over the snapshot manifests still on disk, so the answerable
    * horizon is what [[expireSnapshots]] retained. */
  def snapshotAsOf(root: String, asOfMs: Long): Option[Long] =
    listSnapshots(root)
      .filter(s => snapshotTimeMs(root, s) <= asOfMs)
      .maxOption

  /** Time travel BY TIMESTAMP across the WHOLE catalog: read `table`
    * at the version pinned by the newest snapshot committed ≤
    * `asOfMs`. The point over per-table [[Publish.readAsOf]]: every
    * table read through one `asOfMs` resolves against the SAME
    * snapshot, so an as-of join across tables is consistent by
    * construction — per-table timestamp resolution could pair a
    * pre-flip table with a post-flip one when their publishes
    * straddled the commit. */
  def readAsOf(spark: SparkSession, root: String, table: String, asOfMs: Long): DataFrame = {
    val s = snapshotAsOf(root, asOfMs).getOrElse(throw new IllegalStateException(
      s"no catalog snapshot at $root committed at or before $asOfMs"))
    val pins = tableVersions(root, s)
    val v = pins.getOrElse(table, throw new IllegalStateException(
      s"table '$table' not in snapshot $s at $root"))
    Publish.readVersion(spark, tableRoot(root, table), v)
  }

  /** Read `table` at the LIVE snapshot's pinned version — never the
    * table's own (possibly newer) pointer. */
  def read(spark: SparkSession, root: String, table: String): DataFrame = {
    val pins = currentTableVersions(root)
    val v = pins.getOrElse(table,
      throw new IllegalStateException(s"table '$table' not in the live snapshot at $root"))
    Publish.readVersion(spark, tableRoot(root, table), v)
  }

  /** Drop catalog snapshots beyond the newest `keep`, then drop every
    * table version no retained snapshot references (incl. versions a
    * crashed publishAll left unreferenced). Returns removed table
    * version dirs as (table, version). */
  def vacuum(root: String, keep: Int = 1): Seq[(String, Long)] = {
    val live = currentVersion(root).getOrElse(return Nil)
    val snaps = listSnapshots(root).sorted.reverse
    val (kept, dropped) = snaps.partition(s => s > live - keep && s <= live)
    reap(root, kept, dropped)
  }

  /** When snapshot `version` committed, in epoch millis (manifest
    * `committed_at`, manifest-file mtime for pre-field snapshots). */
  def snapshotTimeMs(root: String, version: Long): Long = {
    val mf = catDir(root).resolve(s"snap-$version.json")
    Option(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(manifestText(root, version)).get("committed_at"))
      .map(_.asLong)
      .getOrElse(Files.getLastModifiedTime(mf).toMillis)
  }

  /** Every member version of `table` that some snapshot manifest
    * still on disk references — the pin set a member table's own
    * [[Publish.expireVersions]] must respect: reaping a version a
    * retained snapshot pins would tear that snapshot for time-travel
    * readers even though the table's local policy is done with it. */
  def pinnedVersions(root: String, table: String): Set[Long] =
    listSnapshots(root)
      .flatMap(s => tableVersions(root, s).get(table)).toSet

  /** Snapshot-level retention — [[Publish.expireVersions]] lifted to
    * the catalog: a snapshot survives if it is the live one, among the
    * newest `keepLast`, or committed within `keepWithinMs` of `now`;
    * expired snapshots lose their manifests, then every member table
    * version no SURVIVING snapshot references is reaped (the
    * referenced-set sweep [[vacuum]] runs, under the richer policy).
    * Returns removed table version dirs as (table, version). */
  def expireSnapshots(
      root: String,
      keepLast: Int,
      keepWithinMs: Long = 0L,
      now: Long = System.currentTimeMillis()): Seq[(String, Long)] = {
    require(keepLast >= 1, "keepLast must retain at least the newest snapshot")
    val live = currentVersion(root).getOrElse(return Nil)
    val snaps = listSnapshots(root).sorted.reverse
    val newest = snaps.take(keepLast).toSet
    val (kept, dropped) = snaps.partition { s =>
      s == live || newest.contains(s) ||
        now - snapshotTimeMs(root, s) <= keepWithinMs
    }
    reap(root, kept, dropped)
  }

  /** Shared sweep: drop `dropped` snapshot manifests, then reap every
    * member version the `kept` snapshots don't reference. */
  private def reap(
      root: String, kept: Seq[Long], dropped: Seq[Long]): Seq[(String, Long)] = {
    // referenced set FIRST: a crash after manifest deletion but before
    // the version sweep must leave extra versions (reaped next run),
    // never a kept snapshot missing members
    val referenced: Map[String, Set[Long]] = kept
      .flatMap(s => tableVersions(root, s).toSeq)
      .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).toSet }
    dropped.foreach(s => Files.deleteIfExists(catDir(root).resolve(s"snap-$s.json")))
    val tablesDir = Paths.get(root, "tables")
    if (!Files.exists(tablesDir)) return Nil
    Files.list(tablesDir).iterator().asScala.toSeq.filter(Files.isDirectory(_))
      .flatMap { tDir =>
        val t = tDir.getFileName.toString
        val keepVs = referenced.getOrElse(t, Set.empty)
        Publish.listVersions(tDir).filterNot(keepVs.contains).map { v =>
          deleteRecursively(tDir.resolve(s"v=$v"))
          // the member table's own pointer may now dangle; repoint it
          // at its newest retained version so direct Publish readers
          // stay valid
          keepVs.maxOption.foreach { mv =>
            Publish.store.putAtomic(tDir.resolve("_CURRENT"), mv.toString)
          }
          t -> v
        }
      }
  }

  private def listSnapshots(root: String): Seq[Long] = {
    val dir = catDir(root)
    if (!Files.exists(dir)) Nil
    else Files.list(dir).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("snap-") && s.endsWith(".json") =>
        s.stripPrefix("snap-").stripSuffix(".json").toLong }
      .toSeq
  }

  private def manifestText(root: String, version: Long): String =
    new String(Files.readAllBytes(catDir(root).resolve(s"snap-$version.json")),
      StandardCharsets.UTF_8)

  private def tableVersions(root: String, version: Long): Map[String, Long] = {
    val m = manifestText(root, version)
    val tablesJson = """"tables":\{([^}]*)\}""".r
      .findFirstMatchIn(m).map(_.group(1)).getOrElse("")
    """"((?:[^"\\]|\\.)*)":(\d+)""".r.findAllMatchIn(tablesJson)
      .map(g => g.group(1).replace("\\\"", "\"").replace("\\\\", "\\") -> g.group(2).toLong)
      .toMap
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.toSeq.foreach(deleteRecursively)
    Files.deleteIfExists(p): Unit
  }
}

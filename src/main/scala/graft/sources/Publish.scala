package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.SqlInternals

/** Atomic dataset publication: staging → validate → promote.
  *
  * The reference refreshes its serving tables with DELETE+INSERT
  * inside BigQuery's transactional layer (core_coin_wallet_profits
  * and every *_td update loop); a file-based pipeline has no such
  * layer, and the naive overwrite-in-place leaves readers a window
  * where the directory is half old, half new — or empty after a
  * crash. This object is the minimal safe replacement, the pattern
  * production table formats build on reduced to its core:
  *
  *   - each publish writes a fresh immutable version directory
  *     `root/v=N/` (data + `manifest.json`), never touching the live
  *     one;
  *   - the staged files are VALIDATED before promotion: the driver
  *     opens the parquet footer of every file a reader would read
  *     (no Spark job), and the footers' row counts and schemas become
  *     the manifest's — a torn write can never become visible;
  *   - the commit point is one atomic replace of the `_CURRENT`
  *     pointer file. Readers resolve the pointer first, so they see
  *     the old version or the new one, never a mix; a crash anywhere
  *     before the pointer flip leaves garbage that the next publish
  *     reaps, and the live version untouched.
  *
  * Scale note: every commit-plane operation (lock, promotion rename,
  * pointer flip, pointer resolve) goes through the [[CommitStore]]
  * seam, whose scaladoc maps each primitive onto a rename-less
  * object store (conditional PUTs; promotion becomes a no-op under
  * unique immutable keys). The default backend is the local-FS
  * nio implementation — the HDFS-rename stand-in. Single writer
  * assumed (the reference's orchestrator is a serialized loop);
  * concurrent publishers race benignly on the version number — the
  * directory move fails loudly, nothing is corrupted.
  */
object Publish {

  private val Current = "_CURRENT"
  // underscore prefix: parquet readers skip metadata-convention files,
  // so the manifest can live inside the version dir it describes
  private val Manifest = "_manifest.json"
  private val CommitLock = "_COMMIT_LOCK"
  // a crashed writer's lock must not wedge the table forever: any
  // writer may break a lock older than this (local-FS pragmatics; an
  // object store replaces the whole lock with a conditional put).
  // A def over a system property so specs can exercise the
  // stale-break and heartbeat protocol in milliseconds.
  private def LockStaleMs: Long =
    sys.props.get("graft.publish.lockStaleMs").map(_.toLong).getOrElse(60000L)

  /** The storage backend for every COMMIT-PLANE operation (lock,
    * promotion, pointer) — see [[CommitStore]] for the primitive set
    * and its object-store mapping. Data-plane writes (staged parquet,
    * manifests inside the version dir) go through Spark/nio directly:
    * they land under keys nothing references until the flip, so they
    * need no store semantics beyond durability. Injection point for
    * specs (PublishSpec proves the protocol routes through it). */
  @volatile private[graft] var store: CommitStore = LocalCommitStore

  /** A conditional commit found the table moved past its expected
    * base — the caller's staged change was derived from a superseded
    * version and must be RE-DERIVED, not force-committed
    * ([[graft.sources.Txn.retry]] is that loop). */
  final class CommitConflict(val expected: Option[Long], val found: Option[Long])
    extends RuntimeException(
      s"live version is $found, transaction expected $expected — rebase and retry")

  /** Write `df` as the next version of the dataset at `root` and
    * atomically flip the live pointer to it. Returns the new version
    * number.
    *
    * @param meta caller key/values recorded in the manifest — rides
    *   the same atomic commit as the data, which is what lets a
    *   streaming sink make "was this batch already published?"
    *   crash-safe (a sink stores its micro-batch id under
    *   [[ReplayMarker]]; every other commit carries the live one) */
  def publish(df: DataFrame, root: String, meta: Map[String, String] = Map.empty): Long =
    publishStaged(df.sparkSession, root, meta) { staging =>
      df.write.parquet(staging)
    }

  /** The staging→validate→promote protocol with a CALLER-POPULATED
    * staging directory — the lower-level form [[publish]] rides, and
    * what lets a version be assembled from mixed sources (e.g.
    * [[Compact.compactPublishedIncremental]] [[carry]]s well-sized
    * files and rewrites only fragments into the same version). The
    * caller's `stage(dir)` must leave ONLY the version's parquet data
    * files directly under `dir` (hidden `_`/`.` entries aside);
    * validation (every staged footer opened and parsed on the driver),
    * the manifest, and the atomic promotion are unchanged.
    *
    * @param mergeSchema union the staged files' footer schemas by name
    *   for the manifest's recorded schema — REQUIRED when the staged
    *   files legitimately differ (a schema-evolving [[Merge]] carries
    *   old-schema files next to widened rewrites); without it the
    *   manifest records the first file's (in name order) footer
    *   schema, as a non-merging parquet reader would */
  def publishStaged(spark: SparkSession, root: String,
      meta: Map[String, String] = Map.empty,
      mergeSchema: Boolean = false)(stage: String => Unit): Long = {
    val rootPath = Paths.get(root)
    Files.createDirectories(rootPath)
    // unchecked last-wins (the historical single-writer behavior) —
    // but still under the commit lock, so interleaved writers can
    // never corrupt the version sequence itself
    withCommitLock(rootPath) {
      reapStaging(rootPath)
      publishLocked(spark, rootPath, meta, mergeSchema)(stage)
    }
  }

  /** [[publishStaged]] with OPTIMISTIC CONCURRENCY: commit only if the
    * live pointer still reads `expectedLive` (`None` = the table is
    * expected still UNPUBLISHED — two bootstrap writers race too),
    * else throw [[CommitConflict]] with nothing committed — the CAS
    * every read-modify-write transform (MERGE, delete, compact,
    * append all re-derive from the live version) needs to avoid the
    * LOST UPDATE the plain last-wins protocol permits: writer B
    * derives from v5 while writer A commits v6; B's unconditional
    * commit takes v7 and silently drops A's change (the rename race
    * only catches two writers landing on the SAME number).
    * [[Txn.retry]] wraps the conflict in the rebase-by-re-derivation
    * loop.
    *
    * Commit critical section: a `_COMMIT_LOCK` file taken with an
    * atomic create (stale locks older than 60 s are broken — a
    * crashed writer must not wedge the table); the expected-version
    * check, staging, validation, rename, and pointer flip all run
    * under it. Holding the lock across the staged WRITE serializes
    * writers — the simple, correct local trade; an object store
    * replaces the lock with a conditional put of the pointer and
    * stages outside the critical section, re-validating on the put. */
  def publishStagedIf(spark: SparkSession, root: String,
      expectedLive: Option[Long],
      meta: Map[String, String] = Map.empty,
      mergeSchema: Boolean = false)(stage: String => Unit): Long = {
    val rootPath = Paths.get(root)
    Files.createDirectories(rootPath)
    withCommitLock(rootPath) {
      val live = currentVersion(root)
      if (live != expectedLive) throw new CommitConflict(expectedLive, live)
      reapStaging(rootPath)
      publishLocked(spark, rootPath, meta, mergeSchema)(stage)
    }
  }

  private[graft] def withCommitLock[T](rootPath: Path)(body: => T): T = {
    val lock = rootPath.resolve(CommitLock)
    var held = false
    // waiters tolerate a LIVE long-running holder (heartbeat below
    // keeps its mtime fresh) up to 10× the stale horizon before
    // giving up — bounded, but no longer the old behavior of breaking
    // a legitimate large commit mid-critical-section at 60 s
    val deadline = System.currentTimeMillis() + LockStaleMs * 10
    while (!held) {
      if (store.tryCreate(lock)) held = true
      else {
        val age = store.ageMs(lock)
        if (age > LockStaleMs) breakStaleLock(rootPath, lock)
        else if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"commit lock at $rootPath held past the wait horizon")
        else Thread.sleep(20)
      }
    }
    // HEARTBEAT: the holder refreshes the lock's mtime from a daemon
    // thread, so a commit that legitimately outlives the stale
    // horizon (a large merge or compaction stages under the lock) is
    // never mistaken for a crashed writer and broken mid-section —
    // only a holder that STOPPED beating (crash, kill) goes stale
    val beat = new Thread(() => {
      try while (!Thread.currentThread().isInterrupted) {
        // beat at 1/8 of the horizon: a waiter breaks the lock only
        // after a FULL horizon without a touch, so the holder survives
        // up to 7 consecutive missed beats (GC pause, scheduler stall)
        Thread.sleep(LockStaleMs / 8)
        store.touch(lock)
      } catch {
        case _: InterruptedException => ()
        case _: java.nio.file.NoSuchFileException => ()
      }
    }, s"graft-commit-lock-heartbeat")
    beat.setDaemon(true)
    beat.start()
    try body finally {
      beat.interrupt()
      store.deleteIfExists(lock)
    }
  }

  /** Break a stale lock via ATOMIC RENAME to a unique tombstone:
    * exactly one racing breaker wins the move (the losers' renames
    * throw and re-loop) — the old deleteIfExists+createFile sequence
    * let a second breaker delete the first breaker's freshly created
    * lock, admitting two writers. After winning, the tombstone's
    * mtime is re-checked: a lock that turned out FRESH (its holder
    * heartbeat between our staleness read and the move) is moved
    * back; if the move-back loses a race to a new creator the
    * tombstone is dropped — the version-directory rename and the CAS
    * check remain the hard backstops against a double commit. An
    * object store replaces this whole dance with a conditional put. */
  private def breakStaleLock(rootPath: Path, lock: Path): Unit = {
    val tomb = rootPath.resolve(
      s".$CommitLock.broken.${java.util.UUID.randomUUID()}")
    try {
      store.moveExclusive(lock, tomb)
      val age = store.ageMs(tomb)
      if (age > LockStaleMs || age < 0) store.deleteIfExists(tomb)
      else {
        try store.moveExclusive(tomb, lock)
        catch { case _: java.nio.file.FileSystemException =>
          store.deleteIfExists(tomb)
        }
      }
    } catch {
      case _: java.nio.file.NoSuchFileException => () // another breaker won
      case _: java.nio.file.FileSystemException => ()
    }
  }

  private def publishLocked(spark: SparkSession, rootPath: Path,
      meta: Map[String, String],
      mergeSchema: Boolean)(stage: String => Unit): Long = {
    val version = listVersions(rootPath).maxOption.getOrElse(0L) + 1L
    val staging = rootPath.resolve(s".staging-v$version")
    stage(staging.toString)

    // validate before promoting: open the footer of every file a
    // parquet reader would read, on the driver; a truncated, empty or
    // foreign file fails HERE, with the live version still untouched.
    // The footers also hold the manifest's row count and schema
    val visible = readerVisibleFiles(staging)
    val (counts, schema) = SqlInternals.parquetFooters(spark,
      visible.map(_.toUri.toString), mergeSchema)
    val rows = counts.sum
    val files = visible.map(p => (p.getFileName.toString, Files.size(p)))
      .filter(_._1.endsWith(".parquet"))
    val root = rootPath.toString
    val marker =
      if (meta.contains(ReplayMarker)) None
      else currentVersion(root).flatMap(metaValueAt(root, _, ReplayMarker))
        .map(ReplayMarker -> _)
    val manifest =
      s"""{"version":$version,"rows":$rows,""" +
        s""""committed_at":${System.currentTimeMillis()},""" +
        s""""schema":${jsonStr(schema.toDDL)},""" +
        s""""total_bytes":${files.map(_._2).sum},""" +
        s""""meta":${metaJson(meta ++ marker)},""" +
        s""""files":[${files.map { case (n, s) => s"""{"name":${jsonStr(n)},"bytes":$s}""" }.mkString(",")}]}"""
    Files.write(staging.resolve(Manifest), manifest.getBytes(StandardCharsets.UTF_8))

    // promote: directory rename (fails loudly if a racer took N),
    // then the pointer flip — the ONLY step readers can observe
    val versionDir = rootPath.resolve(s"v=$version")
    store.moveExclusive(staging, versionDir)
    store.putAtomic(rootPath.resolve(Current), version.toString)
    version
  }

  /** Resolve the live version through the pointer and read it. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val v = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published version at $root"))
    spark.read.parquet(Paths.get(root).resolve(s"v=$v").toString)
  }

  /** Time travel: read a specific published version, live or
    * superseded (it must not have been vacuumed). Pairing two of
    * these through [[graft.operators.Scd.snapshotDiff]] recovers the
    * change feed between the versions — CDC as a query over the
    * immutable snapshot layout. */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame = {
    val dir = Paths.get(root).resolve(s"v=$version")
    if (!Files.exists(dir))
      throw new IllegalStateException(s"version $version not present at $root")
    spark.read.parquet(dir.toString)
  }

  /** The live version number, if anything was ever published. */
  def currentVersion(root: String): Option[Long] =
    store.get(Paths.get(root).resolve(Current)).map(_.trim.toLong)

  /** The live version's manifest, parsed minimally (version, rows). */
  def currentManifest(root: String): Option[String] =
    currentVersion(root).map { v =>
      new String(Files.readAllBytes(
        Paths.get(root).resolve(s"v=$v").resolve(Manifest)), StandardCharsets.UTF_8)
    }

  /** A caller `meta` value from the live manifest — the read side of
    * publish's `meta` param. Parsed with Jackson (Spark's own JSON
    * runtime, already on every classpath this library runs on) and
    * scoped to the `meta` object: a regex over the raw text could
    * also match the key inside ANOTHER meta value or the schema DDL
    * string. */
  def currentMetaValue(root: String, key: String): Option[String] =
    currentManifest(root).flatMap(metaValueIn(_, key))

  /** [[currentMetaValue]] at a SPECIFIC version — the provenance
    * read: a superseded version's manifest keeps recording the meta
    * its writer attached (e.g. which model version admitted a batch)
    * for as long as the version survives vacuum. */
  def metaValueAt(root: String, version: Long, key: String): Option[String] = {
    val p = Paths.get(root).resolve(s"v=$version").resolve(Manifest)
    if (!Files.exists(p)) None
    else metaValueIn(new String(Files.readAllBytes(p), StandardCharsets.UTF_8), key)
  }

  private[sources] def metaValueIn(manifest: String, key: String): Option[String] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(manifest)
    Option(node.get("meta")).flatMap(o => Option(o.get(key))).map(_.asText)
  }

  /** [[read]] CONFORMED to the live manifest's recorded schema — the
    * read path for tables whose files legitimately differ in width
    * (a schema-evolving [[Merge]] carries pre-evolution files
    * byte-identically; their missing columns read as NULL, the
    * union-by-name contract every table format's evolution story
    * rests on). The manifest, not a sampled footer, is the schema
    * authority. */
  def readConformed(spark: SparkSession, root: String): DataFrame = {
    val v = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published version at $root"))
    val ddl = manifestSchemaDdl(root, v).getOrElse(
      throw new IllegalStateException(s"version $v at $root has no manifest schema"))
    spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      .parquet(Paths.get(root).resolve(s"v=$v").toString)
  }

  /** The LIVE manifest's schema as a StructType — the width authority
    * every transform that [[carry]]s files into a derived version
    * (Compact, Txn.append, Deletes, Merge, Updates) must resolve
    * BEFORE reading fragments: after a
    * schema-evolving merge the live version legitimately mixes file
    * widths, and a footer-sampled read would silently drop the
    * evolved columns from the rewrite. */
  def liveManifestSchema(root: String): Option[org.apache.spark.sql.types.StructType] =
    currentVersion(root)
      .flatMap(v => manifestSchemaDdl(root, v))
      .map(org.apache.spark.sql.types.StructType.fromDDL)

  /** The schema DDL `version`'s manifest records — the width
    * authority [[readConformed]] and the SQL catalog conform to. */
  def manifestSchemaDdl(root: String, version: Long): Option[String] = {
    val mf = Paths.get(root).resolve(s"v=$version").resolve(Manifest)
    if (!Files.exists(mf)) None
    else Option(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(mf)).get("schema")).map(_.asText)
  }

  /** Time travel BY TIMESTAMP: read the newest version committed at
    * or before `asOfMs` — the reader the `committed_at` manifest
    * field exists for (AS OF queries; an auditor replaying
    * "yesterday's table" without knowing version numbers). Resolution
    * is over the versions still on disk, so the answerable horizon is
    * exactly what [[expireVersions]]' keepWithin retained — ask past
    * it and this throws rather than silently serving a newer
    * version. */
  def readAsOf(spark: SparkSession, root: String, asOfMs: Long): DataFrame = {
    val v = versionAsOf(root, asOfMs).getOrElse(throw new IllegalStateException(
      s"no version at $root committed at or before $asOfMs"))
    readVersion(spark, root, v)
  }

  /** The newest on-disk version committed ≤ `asOfMs`, if any. */
  def versionAsOf(root: String, asOfMs: Long): Option[Long] =
    listVersions(Paths.get(root))
      .filter(v => commitTimeMs(root, v) <= asOfMs)
      .maxOption

  /** When `version` committed, in epoch millis — the manifest's
    * `committed_at`, falling back to the version directory's mtime for
    * manifests written before the field existed. */
  def commitTimeMs(root: String, version: Long): Long = {
    val dir = Paths.get(root).resolve(s"v=$version")
    val mf = dir.resolve(Manifest)
    val fromManifest =
      if (Files.exists(mf))
        Option(new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(Files.readString(mf)).get("committed_at")).map(_.asLong)
      else None
    fromManifest.getOrElse(Files.getLastModifiedTime(dir).toMillis)
  }

  /** Snapshot-expiration retention policy — the first-class form of
    * [[vacuum]], the Iceberg `expireSnapshots` contract: a version
    * survives if it is ANY of
    *   - the live version (readers resolving the pointer must always
    *     land on data),
    *   - one of the newest `keepLast` versions (history depth),
    *   - committed within `keepWithinMs` of `now` (time-travel
    *     window — an auditor replaying "as of yesterday" needs
    *     yesterday's commits regardless of how many landed since),
    *   - explicitly `pinned` (catalog integration: a version a
    *     retained [[Catalog]] snapshot references must outlive this
    *     table's own policy — pass [[Catalog.pinnedVersions]]).
    * Everything else is reaped. Returns the reaped versions. Time
    * comes from each version's committed_at manifest field, so the
    * policy is replayable: same `now`, same outcome. */
  def expireVersions(
      root: String,
      keepLast: Int,
      keepWithinMs: Long = 0L,
      pinned: Set[Long] = Set.empty,
      now: Long = System.currentTimeMillis()): Seq[Long] = {
    require(keepLast >= 1, "keepLast must retain at least the newest version")
    val rootPath = Paths.get(root)
    val all = listVersions(rootPath).sorted(Ordering[Long].reverse)
    val live = currentVersion(root)
    val newest = all.take(keepLast).toSet
    val victims = all.filterNot { v =>
      live.contains(v) || newest.contains(v) || pinned.contains(v) ||
        now - commitTimeMs(root, v) <= keepWithinMs
    }
    victims.foreach(v => Sinks.deleteRecursively(rootPath.resolve(s"v=$v")))
    victims
  }

  /** The manifest key a streaming sink commits its micro-batch id
    * under — the replay refusal of every sink in
    * [[graft.streaming]], read back through [[lastBatch]]. The commit
    * itself keeps it: every version copies the live manifest's
    * marker unless its own `meta` sets the key, so a derived version
    * (compaction, MERGE, delete, fold, an external maintenance job
    * that knows nothing about the stream) can never reset a sink's
    * exactly-once refusal. Only the marker carries — operational meta
    * ("carried", audit counts) describes its own version. */
  val ReplayMarker = "graft.batchId"

  /** The last micro-batch id committed at `root`, if any. */
  def lastBatch(root: String): Option[Long] =
    currentMetaValue(root, ReplayMarker).map(_.toLong)

  /** Carry the named data files of the version directory `fromDir`
    * into `staging`, with their deletion-vector slice — the one way a
    * derived version reuses live data. Each file is HARD-LINKED: zero
    * bytes move and the bytes are identical by construction (the
    * local-FS stand-in for a manifest re-referencing the same
    * objects), so the DV positions, keyed by file name and row index,
    * stay valid. Sound because no version is ever written in place
    * and vacuum only unlinks. The slice is the sidecar rows of the
    * carried files; dropping it would silently resurrect deleted rows
    * in the new version (deletes are semantics — the S26 change-feed
    * spec caught a DV delete followed by an append re-emitting the
    * deleted key as an insert). */
  private[graft] def carry(spark: SparkSession, fromDir: String, staging: String,
      names: Seq[String]): Unit = {
    val to = Paths.get(staging)
    Files.createDirectories(to)
    names.foreach(n => Files.createLink(to.resolve(n), Paths.get(fromDir).resolve(n)): Unit)
    val dp = Deletes.deletesPath(fromDir)
    if (names.nonEmpty && Files.exists(Paths.get(dp))) {
      val slice = spark.read.parquet(dp)
        .where(org.apache.spark.sql.functions.col("file").isin(names: _*))
      if (slice.limit(1).count() > 0)
        slice.write.parquet(Deletes.deletesPath(staging))
    }
  }

  /** Drop every version except the live one and the newest `keep`
    * others. Returns the reaped version numbers. Old versions are what
    * give in-flight readers their consistency window — vacuum is a
    * retention policy, not part of publish. */
  def vacuum(root: String, keep: Int = 1): Seq[Long] = {
    val rootPath = Paths.get(root)
    val live = currentVersion(root)
    val victims = listVersions(rootPath)
      .filterNot(live.contains)
      .sorted(Ordering[Long].reverse)
      .drop(keep)
    victims.foreach(v => Sinks.deleteRecursively(rootPath.resolve(s"v=$v")))
    victims
  }

  /** All version numbers present on disk (live, orphaned, or old). */
  def listVersions(rootPath: Path): Seq[Long] =
    if (!Files.exists(rootPath)) Seq.empty
    else {
      val s = Files.list(rootPath)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith("v="))
        .flatMap(n => scala.util.Try(n.stripPrefix("v=").toLong).toOption)
        .toSeq
      finally s.close()
    }

  private def reapStaging(rootPath: Path): Unit = {
    val s = Files.list(rootPath)
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith(".staging-"))
      .toSeq
      .foreach(Sinks.deleteRecursively)
    finally s.close()
  }

  /** The files of a staged version that a parquet reader would read,
    * name-sorted: every regular file whose name Spark's listing does
    * not skip (`_`/`.` prefixes other than `k=v`, in-flight
    * `._COPYING_` copies). The stage contract is flat, so a visible
    * subdirectory fails the commit: a reader would take a `k=v` one
    * as a partition and skip any other, while the manifest's file list
    * and [[carry]] see only the top level.
    * A stage with no file to read fails too (no schema to record). */
  private def readerVisibleFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    val visible =
      try s.iterator().asScala.filterNot { p =>
        val n = p.getFileName.toString
        (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
          n.endsWith("._COPYING_")
      }.toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    visible.find(Files.isDirectory(_)).foreach { d =>
      throw new IllegalStateException(
        s"staged version holds a reader-visible subdirectory: $d")
    }
    if (visible.isEmpty)
      throw new IllegalStateException(s"staged version at $dir holds no data file")
    visible
  }

  // full JSON string escape incl. control chars (Verify.oracleJson's
  // escaper): a newline or tab in a caller meta value must not
  // produce a manifest json.load rejects
  private[sources] def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** A manifest's `meta` object: sorted keys, [[jsonStr]]-escaped —
    * the one encoding Publish and [[Catalog]] manifests share, read
    * back by [[metaValueIn]]. */
  private[sources] def metaJson(meta: Map[String, String]): String =
    meta.toSeq.sorted
      .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }.mkString("{", ",", "}")
}

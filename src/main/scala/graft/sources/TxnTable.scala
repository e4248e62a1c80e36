package graft.sources

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Transactional parquet table — ACID-ish semantics over plain parquet,
  * no Delta/Iceberg jars (none ship in this environment; see SURVEY
  * "What's missing"). The ingredients are the ones already proven
  * separately in this repo, composed: MviewStream's atomic-pointer flip
  * becomes an append-only COMMIT LOG, and every write stages immutable
  * data first, publishes a manifest second.
  *
  * Layout:
  * {{{
  *   tableDir/
  *     data/txn-<uuid>/          immutable parquet dirs, one per commit;
  *                               written BEFORE the commit exists, never
  *                               mutated after
  *     _log/v<20-digit>.json     one manifest per committed version; the
  *                               manifest lists the FULL live set, so a
  *                               snapshot read is one manifest, no log
  *                               replay
  * }}}
  *
  * Commit protocol (the Delta/Iceberg idea re-derived over local files):
  *  1. stage: write the parquet data under `data/txn-<uuid>` — invisible
  *     to every reader because no manifest references it; a crash here
  *     leaves an orphan dir and a fully intact previous snapshot.
  *  2. publish: write the manifest to a temp name, then hard-link it to
  *     `_log/v<n>.json`. link(2) fails with EEXIST ATOMICALLY, so two
  *     writers racing for the same version get exactly one winner — this
  *     IS the optimistic-concurrency conflict detector. (On an object
  *     store the same slot is a put-if-absent / conditional-PUT; on HDFS
  *     a no-overwrite rename. The protocol is unchanged.) Filesystems
  *     without hard links fall back to an existence-checked ATOMIC_MOVE.
  *  3. on conflict: re-read the new latest manifest, rebase (append: new
  *     live = latest.live + staged; overwrite: live = staged) and retry
  *     at the next version. The staged data is never rewritten — only
  *     the manifest is recomputed.
  *
  * Reader isolation: a reader resolves ONE manifest and reads exactly the
  * dirs it lists — concurrent commits create new manifests and new data
  * dirs, never touching the ones a running query holds. Time travel is
  * reading an older manifest. Exactly-once ingestion uses `txnId`: a
  * retried commit whose txnId already appears in the retained log is
  * skipped (the MviewStream batchId idea, generalized).
  *
  * At 100 TB: data dirs live on the object store; manifests are KB-sized
  * (they list directories, not rows) and the commit hot path is one
  * conditional put — no scan, no listing, no lock. Readers plan from the
  * manifest list, so there is no eventually-consistent LIST on the read
  * path at all.
  */
object TxnTable {

  /** One committed version. `stats` maps a live dir to its min/max
    * bounds on one OR MORE integral columns (";"-joined in the manifest;
    * Z-order clustering records bounds for every cluster key) — folded
    * INTO the manifest so a filtered read prunes its dir list from ONE
    * manifest fetch, with zero per-dir metadata reads on the planning
    * path (the Delta add-file-stats / Iceberg manifest-entry idea). Old
    * manifests without the field parse to an empty map. */
  final case class Snapshot(version: Long, action: String,
                            live: Seq[String], txnId: Option[String],
                            stats: Map[String, Seq[(String, Long, Long)]] = Map.empty,
                            parts: Map[String, (String, String)] = Map.empty,
                            ts: Long = 0L,
                            nrows: Map[String, Long] = Map.empty,
                            dvs: Map[String, String] = Map.empty,
                            schema: Option[String] = None,
                            constraints: Map[String, String] = Map.empty,
                            ptrans: Option[(String, String)] = None,
                            eqs: Map[String, (Seq[String], Seq[String])] = Map.empty,
                            gens: Map[String, String] = Map.empty,
                            fids: Map[String, Int] = Map.empty,
                            schema0: Option[String] = None,
                            fhwm: Int = 0,
                            nulls: Map[String, Seq[(String, Long)]] = Map.empty,
                            pthist: Map[String, String] = Map.empty,
                            kmvs: Map[String, (String, Seq[Long])] = Map.empty,
                            statKeys: Boolean = false,
                            base: Option[Long] = None,
                            sstats: Map[String, Seq[(String, String, String)]] =
                              Map.empty,
                            partsN: Map[String, Seq[(String, String)]] =
                              Map.empty,
                            props: Map[String, String] = Map.empty)

  final class CommitConflict(msg: String) extends RuntimeException(msg)

  /** Thrown when incoming data violates a manifest-carried CHECK
    * constraint (write rejected, no trace left), or when
    * [[addConstraint]] finds existing rows violating the new check. */
  final class ConstraintViolation(msg: String) extends RuntimeException(msg)

  /** Thrown when a requested version existed but has been vacuumed past —
    * a typed signal a caller can catch to fall back to a full re-read
    * (the Delta `VersionNotFoundException` semantics), instead of the
    * raw filesystem error a missing manifest used to surface as. */
  final class RetentionError(msg: String) extends RuntimeException(msg)

  /** Thrown when a manifest's BYTES fail their integrity check — a torn
    * write, bit rot, or out-of-band truncation. Distinct from a parse
    * error: "corruption detected" is actionable (restore the file /
    * re-replicate), "regex found nothing" is not. The commit protocol
    * itself never produces torn manifests (putIfAbsent is atomic); this
    * is the safety net UNDER the protocol, for the storage layer. */
  final class ManifestCorruption(msg: String) extends RuntimeException(msg)

  /** Thrown when a manifest REQUIRES a reader feature this build does
    * not implement (round 15 — the Delta minReaderVersion / Iceberg
    * format-version idea as named feature gates): a typed refusal
    * instead of a silent misread. Without the gate, a reader missing,
    * say, deletion-vector support would list the live dirs, ignore the
    * unknown `dvs` key, and RESURRECT every deleted row. */
  final class UnsupportedProtocol(msg: String) extends RuntimeException(msg)

  /** Reader features THIS build implements. A manifest's `rf` key names
    * the features required to read it CORRECTLY — auto-derived by the
    * writer from what the commit actually carries, so a table using
    * none of them stays readable by any legacy reader (no `rf` key at
    * all, gate 0). */
  private val readerFeatures: Set[String] = Set("dv", "eq", "inc", "fids")

  /** The read-side gate, applied at the decode chokepoint (every
    * manifest read funnels through [[decodeManifest]]): unknown
    * required features raise the typed error naming them. */
  private def checkProtocol(f: File, json: String): String = {
    """"rf"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(json).foreach { m =>
      val missing = m.group(1).split(",").map(_.trim).filter(_.nonEmpty)
        .filterNot(readerFeatures)
      if (missing.nonEmpty) throw new UnsupportedProtocol(
        s"$f requires reader feature(s) [${missing.mkString(", ")}] this " +
          s"build does not implement (supported: " +
          s"${readerFeatures.toSeq.sorted.mkString(", ")}) — upgrade the " +
          "reader; ignoring a required feature could misread the table")
    }
    json
  }

  /** Every top-level manifest key, present or future-reserved. Constraint
    * and generated-column NAMES become manifest keys inside their own
    * objects, but [[snapshot]]'s flat-field regex (`field("schema")`,
    * `field("pta")`, …) scans the WHOLE manifest string — a constraint or
    * generated column named `schema` would satisfy `field("schema")` on a
    * never-evolved table and feed its expression to `DataType.fromDDL`,
    * crashing every read (a `pta`/`pte` pair likewise fabricates a
    * hidden-partition spec). One shared set guards every named-metadata
    * entry point. */
  private val reservedManifestKeys: Set[String] = Set(
    "version", "action", "ts", "live", "txnId", "stats", "parts", "nrows",
    "dvs", "schema", "constraints", "pta", "pte", "eqs", "gens",
    "fids", "schema0", "fhwm", "nulls", "pth", "kmvs",
    "base", "add", "rm", "rmdvs", "sstats", "eqadd", "eqrm", "props", "rf")

  private def logDir(tableDir: String) = new File(tableDir, "_log")
  private def dataDir(tableDir: String) = new File(tableDir, "data")
  private def manifestFile(tableDir: String, v: Long) =
    new File(logDir(tableDir), f"v$v%020d.json")

  // ---- manifest byte integrity (round 14) ----
  // Every new manifest carries a one-line header BEFORE the JSON body:
  //   @graft-manifest crc32:<8 hex> len:<bytes>\n{...json...}
  // The header travels INSIDE the single putIfAbsent object (atomic with
  // the body — no sidecar crash window, unlike Delta's advisory .crc
  // files), declares the body's exact length (truncation detection) and
  // its CRC32 (flip detection). Readers verify-then-strip; a legacy
  // pre-checksum manifest (first byte '{') parses unverified; anything
  // else is a typed [[ManifestCorruption]], never a silent misparse.
  // The round-14 residual risk — a flip of byte 0 to exactly '{' routed
  // a checksummed file down the legacy path (~2⁻⁸ of single-flip space
  // × one position) — is CLOSED in round 15 by the integrity floor: the
  // first header-carrying commit records its version in
  // `_log/_integrity` (put-if-absent, once per table), and any manifest
  // AT OR ABOVE that floor presenting without a header is a typed
  // [[ManifestCorruption]], never a legacy parse. Genuine pre-upgrade
  // manifests live below the floor and still read unverified.
  private val manifestMagic = "@graft-manifest "

  private def integrityFile(tableDir: String) =
    new File(logDir(tableDir), "_integrity")
  /** In-JVM once-per-table latch for the floor write (one exists probe
    * per table per process lifetime, not per commit). */
  private val integrityEnsured =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Record — once, ever — the first checksummed version: every later
    * manifest must present its header or be declared corrupt. */
  private def ensureIntegrityFloor(tableDir: String, v: Long): Unit =
    if (integrityEnsured.add(new File(tableDir).getAbsolutePath) &&
        !store(tableDir).exists(integrityFile(tableDir))) {
      try store(tableDir).putIfAbsent(integrityFile(tableDir),
        v.toString.getBytes("UTF-8")): Unit
      catch { case _: Exception => () } // advisory; next JVM retries
    }
  /** The integrity floor, or Long.MaxValue when the marker is absent
    * (pre-upgrade table: every headerless manifest is legacy-legal). */
  private def integrityFloor(tableDir: String): Long =
    store(tableDir).readBytes(integrityFile(tableDir))
      .flatMap(b => new String(b, "UTF-8").trim.toLongOption)
      .getOrElse(Long.MaxValue)

  /** Wrap a manifest JSON body with its integrity header. */
  private def encodeManifest(json: String): Array[Byte] = {
    val body = json.getBytes("UTF-8")
    val crc = new java.util.zip.CRC32()
    crc.update(body)
    (f"$manifestMagic%scrc32:${crc.getValue}%08x len:${body.length}%d\n"
      .getBytes("UTF-8")) ++ body
  }

  /** Verify and strip the integrity header; pass legacy manifests
    * through. `f` names the file in the typed error only. */
  private def decodeManifest(f: File, bytes: Array[Byte]): String = {
    val magic = manifestMagic.getBytes("UTF-8")
    if (bytes.length >= magic.length &&
        java.util.Arrays.equals(bytes, 0, magic.length, magic, 0, magic.length)) {
      val nl = bytes.indexOf('\n'.toByte)
      if (nl < 0) throw new ManifestCorruption(
        s"$f: manifest truncated inside its integrity header")
      val hdr = new String(bytes, 0, nl, "UTF-8")
      val m = """crc32:([0-9a-f]{8}) len:(\d+)""".r.findFirstMatchIn(hdr)
        .getOrElse(throw new ManifestCorruption(
          s"$f: malformed manifest integrity header '$hdr'"))
      val body = java.util.Arrays.copyOfRange(bytes, nl + 1, bytes.length)
      if (body.length != m.group(2).toInt) throw new ManifestCorruption(
        s"$f: manifest truncated or padded — header declares " +
          s"len=${m.group(2)}, found ${body.length} bytes")
      val crc = new java.util.zip.CRC32()
      crc.update(body)
      if (f"${crc.getValue}%08x" != m.group(1)) throw new ManifestCorruption(
        s"$f: manifest checksum mismatch (expected crc32:${m.group(1)}) — " +
          "bytes corrupted in storage")
      checkProtocol(f, new String(body, "UTF-8"))
    } else if (bytes.nonEmpty && bytes(0) == '{'.toByte) {
      // legacy pre-checksum manifest — legal ONLY below the table's
      // integrity floor; at or above it, a missing header IS corruption
      // (closes the byte-0-flips-to-'{' misroute)
      val v = f.getName.stripPrefix("v").stripSuffix(".json").toLongOption
      val tableDir = f.getParentFile.getParentFile
      if (v.exists(_ >= integrityFloor(tableDir.getPath)))
        throw new ManifestCorruption(
          s"$f: manifest lacks its integrity header but the table's " +
            s"integrity floor (v${integrityFloor(tableDir.getPath)}) says " +
            "it was written with one — bytes corrupted in storage")
      checkProtocol(f, new String(bytes, "UTF-8"))
    } else throw new ManifestCorruption(
      s"$f: not a graft manifest (no integrity header, no JSON object) — " +
        "bytes corrupted in storage")
  }

  /** The commit-I/O seam ([[LogStore]]): every byte of the commit
    * protocol — manifest put-if-absent, pointer replaces, manifest
    * GET/HEAD, log LIST, vacuum deletes — flows through here. Swap for a
    * conditional-PUT-backed implementation on an object store; the
    * [[ObjectStoreSimLogStore]] fuzz arm proves those semantics are all
    * the protocol needs. */
  @volatile private[graft] var logStore: LogStore = LocalLogStore

  /** Per-table store overrides (tests; a deployment mixing stores).
    * Keyed by absolute table path — one table must never see two store
    * implementations concurrently (two racers through DIFFERENT
    * atomicity mechanisms can both "win" a slot), which is exactly why
    * the override is per-table rather than a global swap. */
  private val storeOverrides =
    new java.util.concurrent.ConcurrentHashMap[String, LogStore]()
  private[graft] def installLogStore(tableDir: String, s: LogStore): Unit = {
    storeOverrides.put(new File(tableDir).getAbsolutePath, s); ()
  }
  private[graft] def uninstallLogStore(tableDir: String): Unit = {
    storeOverrides.remove(new File(tableDir).getAbsolutePath); ()
  }
  private def store(tableDir: String): LogStore =
    if (storeOverrides.isEmpty) logStore // production fast path
    else Option(storeOverrides.get(new File(tableDir).getAbsolutePath))
      .getOrElse(logStore)

  /** Per-table incremental-manifest threshold overrides (tests). The
    * process default is the `graft.txn.ckptDirThreshold` system
    * property — but a test mutating THAT races concurrently-running
    * suites (same hazard as a global store swap), so test arms pin the
    * threshold to their own table dirs instead. */
  // ---- in-place data publication (round 14) ----
  // The OBJECT-STORE data path: multi-dir staging writes (bulk partition
  // loads, clustered compaction) normally rename each Spark-written leaf
  // into `data/txn-<uuid>` — a metadata no-op on POSIX, but an O(bytes)
  // copy+delete on a rename-less blob store. In-place mode skips the
  // rename entirely: leaves stay where Spark wrote them and the manifest
  // references them by RELATIVE PATH (`.bulk-<uuid>/<leaf>`), the same
  // nested-reference shape shallow clone already publishes. Data dirs
  // were always invisible until referenced, so publication-by-reference
  // changes cost, not atomicity. Per-table override (tests/deployments),
  // or globally via -Dgraft.txn.inPlaceData=true.
  private val inPlaceDataOverrides =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private[graft] def installInPlaceData(tableDir: String): Unit = {
    inPlaceDataOverrides.put(new File(tableDir).getAbsolutePath, true); ()
  }
  private[graft] def uninstallInPlaceData(tableDir: String): Unit = {
    inPlaceDataOverrides.remove(new File(tableDir).getAbsolutePath); ()
  }
  private def inPlaceData(tableDir: String): Boolean =
    Option(inPlaceDataOverrides.get(new File(tableDir).getAbsolutePath))
      .map(_.booleanValue)
      .orElse(tableProperty(tableDir, "graft.inPlaceData").map(_ == "true"))
      .getOrElse(sys.props.get("graft.txn.inPlaceData").contains("true"))

  // ---- async checkpoint offload (round 14) ----
  // The columnar dir-entry checkpoint is normally written INLINE by
  // whichever committer's delta chain reaches the interval — at very
  // high dir counts that one writer pays a latency tail the others
  // don't. Offload mode skips the inline write; a maintenance process
  // calls [[checkpoint]] instead (OPTIMIZE-adjacent). Correctness never
  // depends on checkpoints (they are reconstruction ANCHORS — without
  // new ones, delta chains just walk further back to the last anchor),
  // so a missed maintenance window costs read latency, not data.
  private val ckptOffloadOverrides =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private[graft] def installCkptOffload(tableDir: String): Unit = {
    ckptOffloadOverrides.put(new File(tableDir).getAbsolutePath, true); ()
  }
  private[graft] def uninstallCkptOffload(tableDir: String): Unit = {
    ckptOffloadOverrides.remove(new File(tableDir).getAbsolutePath); ()
  }
  /** `props` is the head manifest's property map, passed by the caller
    * (tryPublish already holds it) so the mode probe costs no extra
    * snapshot read on the commit hot path. */
  private def ckptOffload(tableDir: String, props: Map[String, String]): Boolean =
    Option(ckptOffloadOverrides.get(new File(tableDir).getAbsolutePath))
      .map(_.booleanValue)
      .orElse(props.get("graft.ckptOffload").map(_ == "true"))
      .getOrElse(sys.props.get("graft.txn.ckptOffload").contains("true"))

  /** MAINTENANCE: materialize the columnar dir-entry checkpoint at the
    * table's current head — the offload-mode counterpart of the inline
    * write (and a way to pre-warm an anchor before a read burst on any
    * table). Subsequent incremental commits anchor on it, so cold
    * reconstruction is one checkpoint load + the commits since. Returns
    * the checkpointed version, or None if the head already has one (or
    * the table has no commits). Safe to run concurrently with writers:
    * the checkpoint is advisory and keyed by version. */
  def checkpoint(tableDir: String): Option[Long] =
    latestVersion(tableDir).flatMap { v =>
      if (TxnCheckpoint.exists(tableDir, v)) None
      else {
        val sn = snapshot(tableDir, v)
        val partsVec: Map[String, Seq[(String, String)]] =
          sn.parts.map { case (d, kv) => d -> Seq(kv) } ++ sn.partsN
        TxnCheckpoint.write(tableDir, v, TxnCheckpoint.DirState(
          sn.live, sn.stats, partsVec, sn.nrows, sn.dvs, sn.nulls,
          sn.kmvs, sn.sstats, sn.eqs))
        Some(v)
      }
    }

  // java.lang.Integer, NOT Int: a CHM[String, Int] unboxes a missing
  // key's null to 0, so any install would silently zero every OTHER
  // table's threshold (Some(0)) — Integer keeps absent = None
  private val ckptThresholdOverrides =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()
  private[graft] def installCkptThreshold(tableDir: String, n: Int): Unit = {
    ckptThresholdOverrides.put(new File(tableDir).getAbsolutePath, n); ()
  }
  private[graft] def uninstallCkptThreshold(tableDir: String): Unit = {
    ckptThresholdOverrides.remove(new File(tableDir).getAbsolutePath); ()
  }
  private def ckptThresholdFor(tableDir: String,
                               props: Map[String, String]): Int =
    (if (ckptThresholdOverrides.isEmpty) None
     else Option(ckptThresholdOverrides.get(new File(tableDir).getAbsolutePath)))
      .map(_.intValue)
      .orElse(props.get("graft.ckptDirThreshold").flatMap(_.toIntOption))
      .getOrElse(sys.props.get("graft.txn.ckptDirThreshold")
        .flatMap(_.toIntOption).getOrElse(512))

  /** Committed versions, ascending — the RETAINED window. Full listing
    * of `_log` minus anything below the retention floor: vacuum may keep
    * sub-retention manifests alive purely as reconstruction-chain links
    * for incremental manifests (their data dirs are reaped), and those
    * must not surface as readable history. The hot read/commit path
    * never calls this on a checkpointed table: [[latestVersion]] probes
    * forward from `_last_checkpoint` instead, so resolving "latest" on
    * a table with a million retained commits costs O(commits since the
    * last checkpoint) existence checks, not a million-entry LIST. */
  def versions(tableDir: String): Seq[Long] = {
    val floor = retentionFloor(tableDir)
    val listed = rawVersions(tableDir).filter(_ >= floor)
    // LIST lag tolerance (see LogStore): a lagged listing only hides the
    // NEWEST keys (manifests are append-only; gaps below the head cannot
    // appear inside the retained window) — probe forward with exists(),
    // which is read-after-write consistent, to recover them. One extra
    // exists() miss on a fresh listing; nothing on the hot read path,
    // which never lists at all.
    var v = listed.lastOption.map(_ + 1L).getOrElse(floor)
    val extra = Seq.newBuilder[Long]
    while (store(tableDir).exists(manifestFile(tableDir, v))) { extra += v; v += 1 }
    listed ++ extra.result()
  }

  /** Every manifest file on disk, including chain-kept ones below the
    * retention floor (vacuum bookkeeping only). LIST-consistency caveat:
    * this may run behind on an object store (see [[LogStore]]) — every
    * consumer tolerates staleness (the hot paths probe with exists). */
  private def rawVersions(tableDir: String): Seq[Long] =
    store(tableDir).list(logDir(tableDir))
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.substring(1, n.length - 5).toLong).sorted

  /** The oldest version the table still serves (RetentionError below).
    * Distinct from manifest-file presence: incremental-manifest chains
    * can keep older manifest FILES for reconstruction while their
    * versions are out of retention (data dirs reaped). */
  private def floorFile(tableDir: String) = new File(logDir(tableDir), "_floor")
  private def retentionFloor(tableDir: String): Long =
    store(tableDir).readBytes(floorFile(tableDir))
      .flatMap(b => new String(b, "UTF-8").trim.toLongOption).getOrElse(0L)
  // Short-TTL memo of the floor (ADVICE r14): snapshot()'s CACHE-HIT
  // path re-checks the floor so another JVM's vacuum surfaces as the
  // typed RetentionError — but paying a pointer READ on every warm
  // snapshot puts file I/O on the hot path of every scan plan and
  // commit. The memo restores a zero-I/O warm path; cross-JVM vacuums
  // become visible within the TTL (their reaped data would anyway race
  // in-flight reads on a shorter horizon than 3 s), and the SAME-JVM
  // vacuum updates the memo synchronously through writeRetentionFloor.
  private val floorTtlMs = 3000L
  private val floorMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  private def retentionFloorCached(tableDir: String): Long = {
    val key = new File(tableDir).getAbsolutePath
    val now = System.currentTimeMillis()
    Option(floorMemo.get(key)) match {
      case Some((v, at)) if now - at < floorTtlMs => v
      case _ =>
        val v = retentionFloor(tableDir)
        floorMemo.put(key, (v, now))
        v
    }
  }
  private def writeRetentionFloor(tableDir: String, v: Long): Unit =
    if (v > retentionFloor(tableDir)) { // monotone
      store(tableDir).putReplace(floorFile(tableDir), v.toString.getBytes("UTF-8"))
      floorMemo.put(new File(tableDir).getAbsolutePath,
        (v, System.currentTimeMillis())): Unit
    }

  /** Write a checkpoint pointer every this-many commits. Manifests here
    * are SELF-CONTAINED (each lists the full live set + stats), so the
    * Delta-style "checkpoint manifest" that compacts a delta log
    * degenerates to pointer maintenance: `_last_checkpoint` names a
    * version known committed, and readers probe forward from it. */
  private val checkpointInterval = 10L

  private def checkpointFile(tableDir: String) = new File(tableDir, "_last_checkpoint")

  /** The checkpointed version, if any. A stale (too-old) pointer is
    * always SAFE — the forward probe walks past it — as long as it
    * never points past a vacuumed prefix, which [[vacuum]] maintains. */
  def lastCheckpoint(tableDir: String): Option[Long] =
    store(tableDir).readBytes(checkpointFile(tableDir))
      .flatMap(b => new String(b, "UTF-8").trim.toLongOption)

  private def writeCheckpoint(tableDir: String, v: Long): Unit = {
    // monotone: never move the pointer backwards (a losing racer's lower
    // version must not shadow the winner's)
    if (lastCheckpoint(tableDir).forall(_ < v)) {
      try store(tableDir).putReplace(checkpointFile(tableDir), v.toString.getBytes("UTF-8"))
      catch { case _: Exception => () } // pointer is advisory; next commit retries
    }
  }

  /** Called after every successful publish: checkpoint every
    * [[checkpointInterval]] commits so the log stays O(interval) to
    * resolve no matter how many commits a streaming sink lands. */
  private def maybeCheckpoint(tableDir: String, v: Long): Unit =
    if (v > 0 && v % checkpointInterval == 0) writeCheckpoint(tableDir, v)

  /** In-JVM snapshot cache. Manifests are IMMUTABLE once published
    * (put-if-absent link), so a parsed/reconstructed Snapshot for
    * (table, version) never goes stale — the cache turns sequential
    * incremental-manifest reads into one delta-apply each and makes the
    * publisher's `prev` lookup free. Bounded LRU; entries for vacuumed
    * versions are evicted by the existence check in [[snapshot]] (so a
    * vacuumed version still surfaces as [[RetentionError]], cached or
    * not). Keyed by absolute path: the worst a path alias could cause is
    * a duplicate entry, never a wrong one. */
  private val snapCacheMax = 48
  private val snapCache =
    new java.util.LinkedHashMap[(String, Long), Snapshot](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), Snapshot]): Boolean =
        size() > snapCacheMax
    }
  private def cacheKey(tableDir: String, v: Long): (String, Long) =
    (new File(tableDir).getAbsolutePath, v)
  private def cacheGet(tableDir: String, v: Long): Option[Snapshot] =
    snapCache.synchronized(Option(snapCache.get(cacheKey(tableDir, v))))
  private def cachePut(tableDir: String, sn: Snapshot): Unit =
    snapCache.synchronized { snapCache.put(cacheKey(tableDir, sn.version), sn); () }
  /** Test hook: force the next snapshot() onto the cold path
    * (checkpoint-anchored reconstruction) instead of the cache. */
  private[graft] def clearSnapshotCache(): Unit = {
    snapCache.synchronized { snapCache.clear() }
    floorMemo.clear() // the "go cold" hook drops the floor memo too
  }

  /** Drop every cached snapshot of ONE table. Required by operations
    * that replace a whole table under an unchanged path with unchanged
    * version numbers — atomic CTAS/RTAS directory swaps, DROP TABLE —
    * where the per-version immutability the cache is keyed on does not
    * hold (ordinary commits self-heal by re-putting their version). */
  private[graft] def invalidateSnapshotCache(tableDir: String): Unit = {
    val p = new File(tableDir).getAbsolutePath
    snapCache.synchronized {
      snapCache.keySet().removeIf(k => k._1 == p); ()
    }
    floorMemo.remove(p): Unit // a table swap invalidates its floor too
  }

  /** Read one version's snapshot: the self-contained parse for classic
    * manifests, checkpoint-anchored reconstruction for incremental ones
    * (see [[TxnCheckpoint]]), both behind the immutability cache. */
  def snapshot(tableDir: String, version: Long): Snapshot = {
    val f = manifestFile(tableDir, version)
    if (!store(tableDir).exists(f)) {
      // distinguish "vacuumed past" (typed, catchable → caller falls
      // back to a full re-read) from "never existed". A MISSING version
      // strictly inside the committed range is also vacuum's work: tags
      // make retention non-contiguous (round 15 — a dropped tag's
      // version reaps while newer pinned ones stay), and manifests are
      // only ever removed by vacuum, never skipped at commit time.
      val vs = versions(tableDir)
      if (vs.nonEmpty && version < vs.head)
        throw new RetentionError(
          s"version $version of $tableDir predates the retention window " +
            s"(oldest retained: ${vs.head}); vacuum removed it")
      if (vs.nonEmpty && version > vs.head && version < vs.last)
        throw new RetentionError(
          s"version $version of $tableDir was vacuumed (retention is " +
            "non-contiguous: the newest window plus tagged versions)")
      throw new IllegalArgumentException(
        s"version $version does not exist at $tableDir" +
          vs.lastOption.map(l => s" (latest: $l)").getOrElse(" (no commits)"))
    }
    cacheGet(tableDir, version) match {
      case Some(sn) =>
        // validate hits against the retention floor too: ANOTHER JVM's
        // vacuum advances `_floor` and reaps data dirs without touching
        // this process's cache — serving the stale entry would surface
        // as missing-file scan errors instead of the typed
        // RetentionError callers are told to catch. One pointer read,
        // the same cost the miss path already pays.
        if (version < retentionFloorCached(tableDir) &&
            !taggedBelowFloor(tableDir, version))
          throw new RetentionError(
            s"version $version of $tableDir predates the retention window " +
              s"(oldest retained: ${retentionFloorCached(tableDir)}); vacuum removed it")
        sn
      case None =>
        // a manifest file kept only as a reconstruction-chain link is
        // NOT a readable version — its data dirs were reaped (vacuum
        // clears the snapshot cache, so this check cannot be shadowed
        // by a pre-vacuum entry)
        if (version < retentionFloorCached(tableDir) &&
            !taggedBelowFloor(tableDir, version))
          throw new RetentionError(
            s"version $version of $tableDir predates the retention window " +
              s"(oldest retained: ${retentionFloorCached(tableDir)}); vacuum removed it")
        val s = decodeManifest(f, store(tableDir).readBytes(f).getOrElse(
          throw new IllegalStateException(s"manifest $f vanished mid-read")))
        val sn =
          if (incBaseOf(s).isEmpty) parseManifest(s, version)
          else reconstruct(tableDir, version, s)
        cachePut(tableDir, sn)
        sn
    }
  }

  /** The `base` marker of an INCREMENTAL manifest (absent = classic
    * self-contained manifest; an incremental one never carries `live`). */
  private def incBaseOf(s: String): Option[Long] =
    """"base"\s*:\s*(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
      .filter(_ => """"live"\s*:\s*\[""".r.findFirstMatchIn(s).isEmpty)

  /** Parse one SELF-CONTAINED manifest. The writer controls the format
    * (dir names are UUIDs, actions are from a closed set), so a tiny
    * extractor is safe — no JSON library exists in the dependency set by
    * design. Also parses the shared fields of an incremental manifest
    * (whose per-dir maps then hold only that commit's DELTA).
    */
  private def parseManifest(s: String, version: Long): Snapshot = {
    def field(k: String): Option[String] =
      s""""$k"\\s*:\\s*"([^"]*)"""".r.findFirstMatchIn(s).map(_.group(1))
    val live = """"live"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse("")
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .filter(_.nonEmpty).toSeq
    val stats = """"stats"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(s)
      .map(_.group(1)).toSeq
      .flatMap(""""([^"]+)"\s*:\s*"([^"]+)"""".r.findAllMatchIn)
      .map { m =>
        // one or more ';'-joined per-column bounds: "c1:lo:hi;c2:lo:hi"
        m.group(1) -> m.group(2).split(";").toSeq.flatMap(_.split(":") match {
          case Array(c, lo, hi) => Some((c, lo.toLong, hi.toLong))
          case _                => None
        })
      }.filter(_._2.nonEmpty).toMap
    // partition-value vectors ("c=v" single, "&c1=v1|c2=v2" multi —
    // round 13): `parts` exposes the FIRST level for every dir (all
    // level-1 consumers stay sound: equality pruning on level 1 is
    // exact, other-column probes conservatively plan), `partsN` the
    // full ordered vector for multi-col dirs only
    val partsVec = """"parts"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(s)
      .map(_.group(1)).toSeq
      .flatMap(""""([^"]+)"\s*:\s*"([^"]+)"""".r.findAllMatchIn)
      .flatMap { m =>
        val vec = TxnCheckpoint.parseParts(m.group(2))
        if (vec.isEmpty) None else Some(m.group(1) -> vec)
      }.toMap
    val parts = partsVec.map { case (d, vec) => d -> vec.head }
    val partsN = partsVec.filter(_._2.size > 1)
    // commit timestamp + per-dir row counts: absent in old manifests
    // (parse to 0 / empty — every consumer treats those as "unknown")
    val ts = """"ts"\s*:\s*(\d+)""".r.findFirstMatchIn(s)
      .map(_.group(1).toLong).getOrElse(0L)
    val nrows = """"nrows"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(s)
      .map(_.group(1)).toSeq
      .flatMap(""""([^"]+)"\s*:\s*(\d+)""".r.findAllMatchIn)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    // deletion-vector map: live dir -> its dv dir (absent pre-DV)
    val dvs = """"dvs"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(s)
      .map(_.group(1)).toSeq
      .flatMap(""""([^"]+)"\s*:\s*"([^"]+)"""".r.findAllMatchIn)
      .map(m => m.group(1) -> m.group(2)).toMap
    // CHECK constraints: name -> SQL expression (exprs exclude '"' and
    // '}' by construction — addConstraint enforces it)
    val constraints = """"constraints"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(s)
      .map(_.group(1)).toSeq
      .flatMap(""""([^"]+)"\s*:\s*"([^"]+)"""".r.findAllMatchIn)
      .map(m => m.group(1) -> m.group(2)).toMap
    // hidden-partition spec: transform alias + SQL expression, carried
    // like schema/constraints (exprs exclude '"'/'}' by construction)
    val ptrans = (field("pta"), field("pte")) match {
      case (Some(a), Some(e)) => Some((a, e))
      case _                  => None
    }
    // equality-delete map: eq dir -> "keyCol1,keyCol2|dataDir1,dataDir2"
    // (identifier key cols and UUID/relative dir names — no ','/'|')
    val eqs = parseEqMap(s, "eqs")
    // generated-column specs: name -> SQL expression (same charset rules
    // as constraints)
    val gens = """"gens"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(s)
      .map(_.group(1)).toSeq
      .flatMap(""""([^"]+)"\s*:\s*"([^"]+)"""".r.findAllMatchIn)
      .map(m => m.group(1) -> m.group(2)).toMap
    // field-id map: CURRENT column name -> stable id (the Iceberg
    // mechanism for rename/drop/widen). `schema0` is the DDL at
    // id-minting time — the era schema of dirs staged before `.cols`
    // sidecars existed. Absent on pre-fids tables (parse to empty).
    val fids = """"fids"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(s)
      .map(_.group(1)).toSeq
      .flatMap(""""([^"]+)"\s*:\s*(\d+)""".r.findAllMatchIn)
      .map(m => m.group(1) -> m.group(2).toInt).toMap
    // field-id high-water mark: ids are NEVER reused (a recycled id
    // would resolve a dropped column's old files into the new column)
    val fhwm = """"fhwm"\s*:\s*(\d+)""".r.findFirstMatchIn(s)
      .map(_.group(1).toInt).getOrElse(0)
    // per-dir null counts on stats columns ("c:n;c2:n2", like stats):
    // what lets IS [NOT] NULL predicates prune at the manifest tier
    val nulls = """"nulls"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(s)
      .map(_.group(1)).toSeq
      .flatMap(""""([^"]+)"\s*:\s*"([^"]+)"""".r.findAllMatchIn)
      .map { m =>
        m.group(1) -> m.group(2).split(";").toSeq.flatMap(_.split(":") match {
          case Array(c, n) => Some((c, n.toLong))
          case _           => None
        })
      }.filter(_._2.nonEmpty).toMap
    // hidden-partition SPEC HISTORY: every transform this table has ever
    // partitioned under (alias -> expr; pta/pte name the CURRENT one).
    // Spec evolution leaves old dirs under their old alias — readers
    // prune each era under ITS OWN recorded transform.
    val pthist = """"pth"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(s)
      .map(_.group(1)).toSeq
      .flatMap(""""([^"]+)"\s*:\s*"([^"]+)"""".r.findAllMatchIn)
      .map(m => m.group(1) -> m.group(2)).toMap
    // per-dir KMV NDV sketches ("c:h1,h2,…", ascending bottom-64 48-bit
    // hashes) folded into the manifest since round 12 — the planner's
    // column-statistics path reads them from THIS one fetch instead of
    // k per-dir `.kmv` sidecar GETs (absent pre-r12: parse to empty,
    // consumers fall back to sidecars)
    val kmvsKey = """"kmvs"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(s)
    val kmvs = kmvsKey
      .map(_.group(1)).toSeq
      .flatMap(""""([^"]+)"\s*:\s*"([^"]+)"""".r.findAllMatchIn)
      .flatMap(m => m.group(2).split(":", 2) match {
        case Array(c, vs) if vs.nonEmpty =>
          Some(m.group(1) -> ((c, vs.split(",").toSeq.flatMap(_.trim.toLongOption))))
        case _ => None
      }).toMap
    // presence of the nulls/kmvs KEYS (even empty) marks a post-upgrade
    // manifest: absence means this manifest predates stat folding, so a
    // publish must refold survivors from sidecars once instead of
    // treating "absent in prev" as "this dir has no stats"
    val statKeys = kmvsKey.isDefined ||
      """"nulls"\s*:\s*\{""".r.findFirstMatchIn(s).isDefined
    // string/date min-max bounds (round 13): base64(UTF-8 bytes) per
    // column, "c:<b64lo>:<b64hi>" — hi empty = unbounded above (the
    // truncation-overflow case); see [[truncatedStringBounds]]
    val sstats = """"sstats"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(s)
      .map(_.group(1)).toSeq
      .flatMap(""""([^"]+)"\s*:\s*"([^"]*)"""".r.findAllMatchIn)
      .map(m => m.group(1) -> TxnCheckpoint.parseSstats(m.group(2)))
      .filter(_._2.nonEmpty).toMap
    // manifest-carried table properties (round 15): layout/maintenance
    // policy that must be one-per-TABLE, not one-per-JVM — carried
    // forward by every commit like constraints, so two writer JVMs can
    // never disagree about a table's object-store mode
    val props = """"props"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(s)
      .map(_.group(1)).toSeq
      .flatMap(""""([^"]+)"\s*:\s*"([^"]*)"""".r.findAllMatchIn)
      .map(m => m.group(1) -> m.group(2)).toMap
    Snapshot(version, field("action").getOrElse("append"), live, field("txnId"),
      stats, parts, ts, nrows, dvs, field("schema"), constraints, ptrans, eqs, gens,
      fids, field("schema0"), fhwm, nulls, pthist, kmvs, statKeys, incBaseOf(s),
      sstats, partsN, props)
  }

  /** One incremental manifest's delta: `shell` is [[parseManifest]]'s
    * read of the text (table-wide fields in full; per-dir maps holding
    * ONLY this commit's new entries), plus the add/rm dir-list delta. */
  /** Shared parse for the `"<key>":{...}` equality-delete object shape —
    * the full `eqs` map of self-contained manifests and the `eqadd`
    * delta of incremental ones. */
  private def parseEqMap(s: String,
                         key: String): Map[String, (Seq[String], Seq[String])] =
    (s""""$key"""" + """\s*:\s*\{([^}]*)\}""").r.findFirstMatchIn(s)
      .map(_.group(1)).toSeq
      .flatMap(""""([^"]+)"\s*:\s*"([^"]+)"""".r.findAllMatchIn)
      .flatMap(m => m.group(2).split("\\|", 2) match {
        case Array(cols, ds) => Some(m.group(1) ->
          ((cols.split(",").toSeq, ds.split(",").filter(_.nonEmpty).toSeq)))
        case _ => None
      }).toMap

  private final case class IncDelta(shell: Snapshot, add: Seq[String],
                                    rm: Set[String], rmdvs: Set[String],
                                    eqAdd: Map[String, (Seq[String], Seq[String])],
                                    eqRm: Set[String])

  private def parseIncrement(s: String, version: Long): IncDelta = {
    def list(k: String): Seq[String] =
      (s""""$k"""" + """\s*:\s*\[([^\]]*)\]""").r.findFirstMatchIn(s)
        .map(_.group(1)).getOrElse("")
        .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .filter(_.nonEmpty).toSeq
    IncDelta(parseManifest(s, version), list("add"), list("rm").toSet,
      list("rmdvs").toSet, parseEqMap(s, "eqadd"), list("eqrm").toSet)
  }

  /** Fold one commit's delta over the previous version's state. The
    * table-wide fields (schema, constraints, fids, spec history, …) come
    * from the delta's own manifest — they are carried IN FULL by every
    * incremental manifest because they are O(columns), so only the
    * per-dir maps reconstruct. The restriction filters reproduce exactly
    * what the self-contained writer serializes: per-dir stat entries for
    * live dirs only, row counts for live ∪ dv dirs. */
  private def applyIncrement(prev: Snapshot, inc: IncDelta): Snapshot = {
    val sh = inc.shell
    val live = prev.live.filterNot(inc.rm) ++ inc.add
    val ls = live.toSet
    val dvs = (prev.dvs ++ sh.dvs -- inc.rmdvs).filter { case (d, _) => ls(d) }
    val dvDirs = dvs.values.toSet
    val nrows = (prev.nrows ++ sh.nrows)
      .filter { case (d, _) => ls(d) || dvDirs(d) }
    // equality deletes fold as a DELTA (round 14): entries added or
    // changed ride in `eqadd` (full form, emitted only when they
    // change), dropped keys in `eqrm` — so outstanding eq-delete debt
    // no longer forces self-contained manifests, and the steady state
    // (appends while debt is outstanding) stays O(new dirs)
    val eqs = (prev.eqs -- inc.eqRm) ++ inc.eqAdd
    Snapshot(sh.version, sh.action, live, sh.txnId,
      (prev.stats ++ sh.stats).filter(e => ls(e._1)),
      (prev.parts ++ sh.parts).filter(e => ls(e._1)),
      sh.ts, nrows, dvs, sh.schema, sh.constraints, sh.ptrans, eqs, sh.gens,
      sh.fids, sh.schema0, sh.fhwm,
      (prev.nulls ++ sh.nulls).filter(e => ls(e._1)),
      sh.pthist,
      (prev.kmvs ++ sh.kmvs).filter(e => ls(e._1)),
      statKeys = true, base = sh.base,
      sstats = (prev.sstats ++ sh.sstats).filter(e => ls(e._1)),
      partsN = (prev.partsN ++ sh.partsN).filter(e => ls(e._1)),
      props = sh.props)
  }

  /** Reconstruct an INCREMENTAL version: walk back from `version`
    * collecting deltas until an ANCHOR — a cached snapshot, a columnar
    * dir-entry checkpoint, or a self-contained manifest — then fold
    * forward. The walk is bounded by the writer's checkpoint cadence
    * (≈ [[checkpointInterval]] small manifest reads on a cold cache; ONE
    * delta-apply when version-1 is cached, the sequential-reader case).
    * Vacuum preserves the anchor chain of every retained version, so a
    * missing link is corruption, reported as such. */
  private def reconstruct(tableDir: String, version: Long, text: String): Snapshot = {
    var deltas = List(parseIncrement(text, version))
    var state: Snapshot = null
    var w = version - 1
    while (state == null) {
      cacheGet(tableDir, w) match {
        case Some(sn) => state = sn
        case None =>
          TxnCheckpoint.read(tableDir, w) match {
            case Some(ck) =>
              // per-dir state only: the fold takes every table-wide
              // field from the deltas' own manifests
              state = Snapshot(w, "checkpoint", ck.live, None, ck.stats,
                ck.parts.map { case (d, vec) => d -> vec.head }, 0L,
                ck.nrows, ck.dvs, None, Map.empty, None,
                ck.eqs, Map.empty, Map.empty, None, 0, ck.nulls,
                Map.empty, ck.kmvs, statKeys = true, sstats = ck.sstats,
                partsN = ck.parts.filter(_._2.size > 1))
            case None =>
              val pf = manifestFile(tableDir, w)
              val tb = store(tableDir).readBytes(pf).getOrElse(
                throw new IllegalStateException(
                  s"manifest chain of $tableDir v$version is broken at v$w: " +
                    "no manifest, no checkpoint — the log was vacuumed or " +
                    "corrupted mid-chain"))
              val t = decodeManifest(pf, tb)
              if (incBaseOf(t).isEmpty) state = parseManifest(t, w)
              else { deltas ::= parseIncrement(t, w); w -= 1 }
          }
      }
    }
    deltas.foldLeft(state)(applyIncrement)
  }

  def latestVersion(tableDir: String): Option[Long] =
    lastCheckpoint(tableDir) match {
      // the pointer is advisory and its writes swallow failures
      // (writeCheckpoint) — if vacuum's pre-drop repoint didn't land, the
      // pointer can name a vacuumed manifest; trusting it blindly would
      // make every read/commit throw until a new checkpoint lands. A
      // missing checkpointed manifest falls back to the full listing.
      case Some(cp) if store(tableDir).exists(manifestFile(tableDir, cp)) =>
        // bounded forward probe — no log listing on the hot path
        var v = cp
        while (store(tableDir).exists(manifestFile(tableDir, v + 1))) v += 1
        Some(v)
      case _ =>
        // cold / stale pointer: the listing (already forward-probed
        // against LIST lag inside versions()) resolves the head
        versions(tableDir).lastOption
    }

  /** Read a snapshot as a DataFrame — the latest by default, or any
    * retained `version` (time travel). The read plans EXACTLY the dirs
    * the manifest lists; concurrent writers cannot perturb it. An empty
    * live set (a delete removed every row) reads as zero rows with the
    * table's recorded `_schema` — a legitimate state, not an error.
    */
  def read(spark: SparkSession, tableDir: String,
           version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(tableDir))
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    val snap = snapshot(tableDir, v)
    if (snap.live.isEmpty) {
      val ddl = snap.schema.getOrElse {
        val f = new File(tableDir, "_schema")
        require(f.exists(), s"version $v has an empty live set and no _schema")
        new String(Files.readAllBytes(f.toPath), "UTF-8")
      }
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], structOf(ddl))
    } else readDirsDV(spark, tableDir, snap, snap.live)
  }

  /** Read `dirs` of a snapshot THROUGH its deletion vectors: dirs with
    * a manifest `dvs` entry anti-join their dv's (rel-path, row-index)
    * positions away (the Delta merge-on-read scan). The dv side is
    * KB-sized and broadcast, so the overhead on a 100 TB scan is one
    * hidden-metadata projection + a broadcast anti-join — no shuffle of
    * the data side; dv-free snapshots take the plain multi-dir path
    * with zero overhead. Positions are (path relative to `data/`,
    * parquet row index), so the table can be relocated wholesale. */
  /** The write-time era of a data dir: its `.cols` sidecar — line 1 the
    * DDL the dir was staged under, line 2 its columns' field ids in
    * order. Absent on dirs staged before the table minted field ids. */
  private def colsOf(tableDir: String, dataDirName: String): Option[(String, Seq[Int])] = {
    val f = new File(new File(dataDir(tableDir), dataDirName), ".cols")
    if (!f.exists()) None
    else new String(Files.readAllBytes(f.toPath), "UTF-8").linesIterator.toSeq match {
      case Seq(ddl, ids) =>
        Some((ddl, ids.trim.split("\\s+").filter(_.nonEmpty).map(_.toInt).toSeq))
      case _ => None
    }
  }

  /** Read `dirs` projected to the snapshot's CURRENT schema, resolving
    * each dir's physical columns BY FIELD ID when the table carries
    * `fids` (rename/drop/widen evolution): dirs group by write-time era
    * (`.cols` sidecar; sidecar-less dirs predate minting and read under
    * `schema0`), each era reads name-based WITHIN the era (pre-addColumn
    * files null-backfill as before), and the projection maps each
    * current (name, type) to the era field with the SAME ID — a renamed
    * column resolves under its old physical name, a dropped one is not
    * selected, a widened one casts up, an added one null-backfills.
    * Fids-less tables take the single-scan fast path UNCHANGED (zero
    * overhead — evolution is pay-for-use). `withMeta` captures
    * (`_era_rel`, `_era_pos`) from the hidden `_metadata` BEFORE the
    * projection — positions for dv staging survive the rename mapping. */
  private def readEras(spark: SparkSession, tableDir: String, snap: Snapshot,
                       dirs: Seq[String], withMeta: Boolean,
                       dvKeep: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, regexp_extract}
    def paths(ds: Seq[String]) = ds.map(d => new File(dataDir(tableDir), d).getPath)
    def metaOf(df: DataFrame): Seq[org.apache.spark.sql.Column] =
      if (!withMeta) Nil
      else Seq(
        regexp_extract(col("_metadata.file_path"), "^.*/data/(.*)$", 1).as("_era_rel"),
        col("_metadata.row_index").as("_era_pos"))
    // the dv position predicate references `_metadata`, resolvable only
    // on the RAW parquet scan — applied here, BEFORE any era projection,
    // it fuses into every era's whole-stage codegen (evolved tables get
    // the same ~1.1x dv scan rent as plain ones instead of the
    // anti-join's 2.3x)
    def keep(raw: DataFrame): DataFrame = dvKeep.map(raw.filter).getOrElse(raw)
    if (snap.fids.isEmpty) {
      // the version's manifest schema is passed to the parquet reader
      // explicitly, so building the read runs no schema-inference job;
      // files staged BEFORE an addColumn simply lack the new field and
      // the reader null-backfills it — the Delta/Iceberg metadata-only
      // evolution read, zero data rewritten. Only a manifest written
      // before commits recorded their schema (none carried) infers.
      val r = spark.read
      val df = keep(snap.schema.map(d => r.schema(structOf(d))).getOrElse(r)
        .parquet(paths(dirs): _*))
      if (!withMeta) df else df.select(col("*") +: metaOf(df): _*)
    } else {
      val cur = structOf(snap.schema.getOrElse(throw new IllegalStateException(
        s"$tableDir carries field ids but no manifest schema")))
      val mintDdl = snap.schema0.getOrElse(throw new IllegalStateException(
        s"$tableDir carries field ids but no schema0"))
      val mintEra = (mintDdl, structOf(mintDdl).fields.indices.map(_ + 1).toSeq)
      dirs.groupBy(d => colsOf(tableDir, d).getOrElse(mintEra))
        .toSeq.sortBy(_._2.head).map { case ((ddl, ids), ds) =>
          val era = structOf(ddl)
          val byId = ids.zip(era.fields).map { case (i, f) => i -> f }.toMap
          val raw = keep(spark.read.schema(era).parquet(paths(ds): _*))
          val projected = cur.fields.toSeq.map { f =>
            byId.get(snap.fids(f.name)) match {
              case Some(ef) if ef.name == f.name && ef.dataType == f.dataType =>
                col(f.name)
              case Some(ef) => col(ef.name).cast(f.dataType).as(f.name)
              case None     => lit(null).cast(f.dataType).as(f.name)
            }
          }
          raw.select(projected ++ metaOf(raw): _*)
        }.reduce(_ unionByName _)
    }
  }

  /** The columns every `dv-*` dir holds: a row's data/-relative file
    * path and its parquet row index ([[stageDV]]). */
  private val dvSchema = org.apache.spark.sql.types.StructType.fromDDL("rel string, pos long")

  private def readDv(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(dvSchema).parquet(paths: _*)

  private[sources] def readDirsDV(spark: SparkSession, tableDir: String,
                                  snap: Snapshot, dirs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    def paths(ds: Seq[String]) = ds.map(d => new File(dataDir(tableDir), d).getPath)
    def rd(ds: Seq[String]): DataFrame =
      readEras(spark, tableDir, snap, ds, withMeta = false)
    // positional deletion vectors: dv-free dirs take the plain parquet
    // path with ZERO overhead; only dv'd dirs pay the dv filter. Two
    // forms, chosen by the manifest's (metadata-only) dv row counts:
    //  - POSITION PREDICATE (the normal, KB-sized-dv case): doomed
    //    positions ride as one Broadcast keyed by part-file name and a
    //    codegen `dv_keep(file_path, row_index)` predicate FUSES into
    //    the scan's whole-stage codegen — no join operator, no per-row
    //    regex, clean files pay one cached path check per row
    //    (lakebench: cut the one-dv'd-dir scan rent from 2.3× to ~1×);
    //  - broadcast ANTI-JOIN fallback for pathological dv volumes
    //    (> ~4M positions, where compactDirty is overdue anyway) or
    //    unknown counts.
    def readWithDv(ds: Seq[String]): DataFrame = {
      val (dvd, clean) = ds.partition(snap.dvs.contains)
      if (dvd.isEmpty) rd(ds)
      else {
        val dvDirs = dvd.map(snap.dvs).distinct
        val dvCounts = dvDirs.map(snap.nrows.get)
        // size gate only: readEras applies the predicate to each era's
        // RAW scan (fids tables included — the r10 restriction to
        // non-evolved tables is gone, closing the era-table 2.3x rent)
        val inline = dvCounts.forall(_.isDefined) &&
          dvCounts.flatten.sum <= 4L * 1024 * 1024
        val filtered =
          if (inline) {
            // keyed by dir/name — the basename alone is NOT unique
            // across one bulk write job's partition dirs (see DvKeep)
            val positions: Map[String, Array[Long]] =
              readDv(spark, paths(dvDirs)).collect()
                .map(r => (r.getString(0), r.getLong(1)))
                .groupBy { case (rel, _) => graft.functions.DvKeep.dirAndName(rel) }
                .map { case (key, xs) => key -> xs.map(_._2).sorted }
            readEras(spark, tableDir, snap, dvd, withMeta = false,
              dvKeep = Some(graft.functions.DvKeep.keepColumn(spark, positions)))
          } else {
            val dv = readDv(spark, paths(dvDirs))
            val df = readEras(spark, tableDir, snap, dvd, withMeta = true)
            df.join(broadcast(dv),
                df("_era_rel") === dv("rel") && df("_era_pos") === dv("pos"), "left_anti")
              .drop("_era_rel", "_era_pos")
          }
        if (clean.isEmpty) filtered
        else rd(clean).unionByName(filtered)
      }
    }
    if (snap.eqs.isEmpty) readWithDv(dirs)
    else {
      // EQUALITY deletes (Iceberg's second delete flavor): group the
      // planned dirs by the SET of eq-delete files that apply (manifest-
      // scoped — an eq delete only ever applies to dirs live at its
      // commit, so later appends are untouched), then anti-join each
      // group against the broadcast KB-sized key sets. NULL keys never
      // match (SQL join) — NULL-key rows keep. Key sets read with the
      // key columns' types from the version's schema (evolution of an
      // outstanding eq key is refused, see [[refCheck]]).
      val eqFor = (d: String) =>
        snap.eqs.toSeq.filter(_._2._2.contains(d)).map(_._1).sorted
      val groups = dirs.groupBy(eqFor).toSeq.sortBy(_._2.head)
      groups.map { case (eqds, ds) =>
        eqds.foldLeft(readWithDv(ds)) { (df, e) =>
          val cols = snap.eqs(e)._1
          val r = spark.read
          val keys = snap.schema.map(structOf)
            .map(st => r.schema(org.apache.spark.sql.types.StructType(cols.map(st(_)))))
            .getOrElse(r).parquet(new File(dataDir(tableDir), e).getPath)
          df.join(broadcast(keys.select(cols.map(keys.col): _*)), cols, "left_anti")
        }
      }.reduce(_ unionByName _)
    }
  }

  private def structOf(ddl: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromDDL(ddl)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** The table's commit HISTORY as a DataFrame — one row per retained
    * version: (version, ts, action, txn_id, num_files, num_rows,
    * files_added, files_removed), the DESCRIBE HISTORY surface with
    * Delta's operationMetrics file counts. METADATA-ONLY: built from
    * manifests alone (row counts are the per-dir `.nrows` folded into
    * each manifest at commit time; the add/remove counts are live-set
    * diffs of consecutive retained manifests), zero data files touched
    * — at 100 TB an audit of "what changed when, by how much" costs
    * milliseconds, not a scan. `num_rows` is null for versions whose
    * dirs predate the `.nrows` sidecar (unknown ≠ 0), and is an UPPER
    * bound while equality deletes are outstanding (an eq tombstone's
    * matched-row count is unknowable without a scan — Iceberg reports
    * delete FILES for the same reason); `ts` is 0 for pre-timestamp
    * manifests; `files_added`/`files_removed` are null for the oldest
    * retained version when its predecessor was vacuumed. */
  def history(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val vs = versions(tableDir)
    val snaps = vs.map(v => snapshot(tableDir, v))
    val prevLive: Map[Long, Seq[String]] =
      snaps.sliding(2).collect { case Seq(a, b) => b.version -> a.live }.toMap
    snaps.map { sn =>
      // effective rows = physical live rows - dv-deleted positions
      // (dv dirs' counts are manifest-folded too, so still metadata-only)
      val dvDirs = sn.live.flatMap(sn.dvs.get).distinct
      val prev = prevLive.get(sn.version)
        .orElse(if (sn.version == 0L) Some(Seq.empty[String]) else None)
      (sn.version, new java.sql.Timestamp(sn.ts), sn.action, sn.txnId,
        sn.live.size,
        if (sn.live.forall(sn.nrows.contains) && dvDirs.forall(sn.nrows.contains))
          Some(sn.live.map(sn.nrows).sum - dvDirs.map(sn.nrows).sum)
        else None,
        prev.map(p => sn.live.count(!p.contains(_))),
        prev.map(p => p.count(!sn.live.contains(_))))
    }.toDF("version", "ts", "action", "txn_id", "num_files", "num_rows",
      "files_added", "files_removed")
  }

  /** The live FILES of a snapshot as a DataFrame — one row per data
    * dir: (file, num_rows, part, bounds), the Iceberg `.files`
    * metadata-table surface. Metadata-only, like [[history]]. */
  def filesMeta(spark: SparkSession, tableDir: String,
                version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val v = version.orElse(latestVersion(tableDir))
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    val sn = snapshot(tableDir, v)
    sn.live.map { d =>
      (d, sn.nrows.get(d),
        sn.parts.get(d).map { case (c, pv) => s"$c=$pv" },
        sn.stats.get(d).filter(_.nonEmpty)
          .map(_.map { case (c, lo, hi) => s"$c:$lo:$hi" }.mkString(";")))
    }.toDF("file", "num_rows", "part", "bounds")
  }

  /** TIMESTAMP AS OF: read the newest retained version whose commit
    * timestamp is <= `tsMillis` (Delta's timestamp time travel — a
    * reader pins "the table as of last midnight" without knowing
    * version numbers). Throws [[RetentionError]] when every retained
    * commit is newer (the version that WAS current then is vacuumed —
    * or never existed). */
  def readAsOf(spark: SparkSession, tableDir: String, tsMillis: Long): DataFrame = {
    val vs = versions(tableDir)
    require(vs.nonEmpty, s"no commits at $tableDir")
    val v = vs.map(v => (v, snapshot(tableDir, v).ts))
      .filter(_._2 <= tsMillis).lastOption.map(_._1)
      .getOrElse(throw new RetentionError(
        s"no retained commit at or before ts=$tsMillis at $tableDir " +
          s"(oldest retained: v${vs.head} ts=${snapshot(tableDir, vs.head).ts})"))
    read(spark, tableDir, Some(v))
  }

  /** The live dirs of `snap` a range predicate `column ∈ [lo, hi]` can
    * possibly touch, per the manifest-embedded min/max bounds: a dir
    * whose recorded range is disjoint from [lo, hi] cannot hold a
    * matching row and is dropped from the plan; a dir without bounds
    * must be planned. Manifest stats only — no sidecar reads — so
    * planning a filtered read is one manifest fetch even when the table
    * has thousands of dirs. */
  def pruneLive(snap: Snapshot, column: String, lo: Long, hi: Long): Seq[String] =
    snap.live.filter(d =>
      snap.stats.get(d).flatMap(_.find(_._1 == column)) match {
        case Some((_, dLo, dHi)) => !(dHi < lo || dLo > hi)
        case _                   => true
      })

  /** The live dirs an `IS NULL` (`wantNull = true`) or `IS NOT NULL`
    * predicate on `column` can possibly touch, per the manifest null
    * counts: a dir recording ZERO nulls cannot satisfy IS NULL; a dir
    * whose nulls equal its row count cannot satisfy IS NOT NULL. Dirs
    * without a recorded count must be planned. Note min/max bounds
    * CANNOT serve here — they are silent about nulls (an all-null dir
    * has no bounds at all), which is exactly why the count is its own
    * manifest stat. */
  def pruneLiveNull(snap: Snapshot, column: String, wantNull: Boolean): Seq[String] =
    snap.live.filter { d =>
      (snap.nulls.get(d).flatMap(_.find(_._1 == column)), snap.nrows.get(d)) match {
        case (Some((_, nn)), _) if wantNull            => nn > 0
        case (Some((_, nn)), Some(total)) if !wantNull => nn < total
        case _                                         => true
      }
    }

  /** Filtered snapshot read with MANIFEST-STATS DATA SKIPPING: plans
    * only the dirs [[pruneLive]] keeps, then applies the residual
    * row-level filter (which also pushes into the parquet scan for
    * row-group pruning — two skipping tiers, dir-level from the
    * manifest and row-group-level from parquet footers, exactly the
    * Delta/Iceberg read stack). At 100 TB this is the difference
    * between "has a table format" and "has a lake table": a point/range
    * query touches the handful of files its keys live in, not the
    * table. The literal bounds are cast to the column's own type so the
    * comparison stays pushdown-eligible. */
  def readRange(spark: SparkSession, tableDir: String, column: String,
                lo: Long, hi: Long, version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val v = version.orElse(latestVersion(tableDir))
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    val snap = snapshot(tableDir, v)
    val planned = pruneLive(snap, column, lo, hi)
    val df =
      if (planned.isEmpty) read(spark, tableDir, Some(v)).limit(0)
      else readDirsDV(spark, tableDir, snap, planned)
    val t = df.schema(column).dataType
    df.filter(df.col(column) >= lit(lo).cast(t) && df.col(column) <= lit(hi).cast(t))
  }

  /** '}' would truncate snapshot()'s regex capture of the parts object,
    * silently dropping partition metadata for every dir serialized after
    * it — same charset contract as constraints/gens expressions. */
  private def requirePartValueCharset(value: String): Unit =
    require(!value.exists(c => c == '"' || c == '\\' || c == '\n' || c == '}'),
      s"unsupported characters in partition value '$value'")

  /** Inverse of the Hive/Spark partition-path escaping `partitionBy`
    * applies to directory names (%XX hex per escaped char — the public
    * convention Spark, Hive and Iceberg all share). Unknown/broken
    * escapes pass through verbatim, matching Hive's reader. */
  private[sources] def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 &&
          Character.digit(s.charAt(i + 2), 16) >= 0) {
        sb.append(((Character.digit(s.charAt(i + 1), 16) << 4) +
          Character.digit(s.charAt(i + 2), 16)).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Stage EVERY partition of `dfp` in ONE shuffled Spark write job —
    * the backfill shape: a 1000-partition load is one
    * `repartition(partition, salt)` + `partitionBy` write plus one
    * read-back aggregate, never one scheduled job per value (the
    * round-11 scale-killer this replaces). `pcol` is the STRING column
    * `partitionBy` consumes (it lands in dir names, not in the data
    * files); `recordCol` is the name written into `.part` sidecars;
    * `countKey` re-derives the partition value from the read-back rows
    * (the visible column itself, or the hidden transform re-evaluated —
    * deterministic, so it matches the write-side value exactly).
    *
    * The per-value distinct-collect is GONE: partition values are
    * discovered from the staged leaf dir names (a driver listing
    * bounded by partition cardinality — the same listing Spark's own
    * dynamic-partition commit protocol performs), row counts and the
    * CHECK/generated-column gate come from one cardinality-bounded
    * read-back aggregate over parquet the job just wrote. A failure
    * anywhere deletes the staging root — a rejected write leaves no
    * trace. Returns (stagedDirName, value, nrows) per partition.
    *
    * Skew: rows shuffle on (partition value, 8-way salt), so one hot
    * partition spreads over up to 8 tasks and writes ≤8 files. The salt
    * is the INPUT partition id mod 8 — deterministic under task retry
    * (`rand()` would respread and duplicate/lose rows, the SPARK-23207
    * hazard) and type-agnostic (a row-hash salt would reject map-typed
    * columns, which hash functions refuse). */
  private def stagePartitionsBulk(spark: SparkSession, tableDir: String,
                                  dfp: DataFrame, pcol: String,
                                  recordCols: Seq[String],
                                  nullValueMsg: String): Seq[(String, Seq[String], Long)] = {
    import org.apache.spark.sql.functions.{assert_true, col, expr, lit, pmod, spark_partition_id}
    val bulkRoot = new File(dataDir(tableDir), s".bulk-${UUID.randomUUID()}")
    var ok = false
    try {
      require(!dfp.columns.contains("__graft_salt"),
        "column name __graft_salt is reserved by the partition writer")
      val snapG = latestVersion(tableDir).map(v => snapshot(tableDir, v))
      val cons = snapG.map(_.constraints).getOrElse(Map.empty) ++
        snapG.map(_.gens).getOrElse(Map.empty[String, String]).map {
          case (c, e) => s"_gen_$c" -> s"($c) <=> ($e)"
        }
      // resolvability pre-flight (driver-side analysis, zero jobs): an
      // unevaluable constraint is a typed rejection before any I/O
      cons.foreach { case (nm, e) =>
        try { dfp.selectExpr(s"coalesce(($e), true)"); () }
        catch {
          case t: Exception => throw new ConstraintViolation(
            s"CHECK constraint $nm ($e) could not be evaluated against the " +
              s"incoming schema: ${t.getMessage}")
        }
      }
      // the write-time CHECK/generated-column gate, FUSED into the
      // staging write itself (round 13 — was a full read-back of the
      // batch, 2x I/O on the table's biggest write path): every row
      // passes through assert_true inside the write job's projection; a
      // violating row aborts the job, the staging root deletes in the
      // finally, and a rejected write leaves no trace — [[stage]]'s
      // contract at HALF the scan count. assert_true returns NULL on
      // pass, so the guards ride as an always-true filter the optimizer
      // cannot fold away (the expression is non-foldable by design).
      val marker = "[graft-check]"
      val gates = cons.toSeq.map { case (nm, e) =>
        assert_true(expr(s"coalesce(($e), true)"),
          lit(s"$marker CHECK constraint $nm ($e) violated by an incoming row"))
          .isNull
      }
      val staged0 = dfp.withColumn("__graft_salt",
          pmod(spark_partition_id().cast("long"), lit(8L)))
        .repartition(col(pcol), col("__graft_salt")).drop("__graft_salt")
      val staged = gates.foldLeft(staged0)(_ filter _)
      try staged.write.partitionBy(pcol).parquet(bulkRoot.getPath)
      catch {
        case t: Throwable =>
          val msgs = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
            .flatMap(x => Option(x.getMessage)).toSeq
          msgs.find(_.contains(marker)) match {
            case Some(m) => throw new ConstraintViolation(
              m.substring(m.indexOf(marker) + marker.length + 1)
                .takeWhile(_ != '\n'))
            case None => throw t
          }
      }
      val leaves = Option(bulkRoot.listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.isDirectory && f.getName.startsWith(pcol + "="))
        .sortBy(_.getName)
      require(leaves.nonEmpty, "input has no rows — nothing to overwrite")
      val byDir: Seq[(File, Seq[String])] = leaves.toSeq.map { f =>
        require(f.getName != s"$pcol=__HIVE_DEFAULT_PARTITION__", nullValueMsg)
        // dir name = hive_escape('|'.join(url_encode(value_i))): undo
        // both layers — the URL layer is ours (see the callers'
        // url_encode), keeping staged paths pure-ASCII on any filesystem
        // locale. url_encode escapes '|' itself, so the join separator
        // is unambiguous; a single-level carrier simply yields one
        // segment.
        val vs = unescapePathName(f.getName.substring(pcol.length + 1))
          .split("\\|", -1).toSeq
          .map(java.net.URLDecoder.decode(_, "UTF-8"))
        require(vs.size == recordCols.size,
          s"staged dir ${f.getName} decoded ${vs.size} partition values " +
            s"for ${recordCols.size} columns")
        vs.foreach(requirePartValueCharset)
        // multi-level manifest entries join levels with '|' — values at
        // depth >= 2 tables must not contain it (single-level tables
        // keep the historical full charset)
        if (recordCols.size > 1) vs.foreach(v => require(!v.contains("|"),
          s"'|' is unsupported in multi-column partition values: '$v'"))
        (f, vs)
      }
      // per-value row counts from parquet FOOTERS (driver-side metadata
      // reads, one per staged part-file — no second scan of the batch,
      // no Spark job): partitionBy guarantees every row under a leaf
      // carries that leaf's value
      // fids era sidecar content (same for every dir — one staged batch,
      // one write-time schema, the staged files' columns = dfp minus the
      // partition carrier); see [[stage]]
      val fileSchema = dfp.drop(pcol).schema
      val fidsNow = snapG.map(_.fids).getOrElse(Map.empty)
      val colsSidecar =
        if (fidsNow.nonEmpty && fileSchema.fieldNames.forall(fidsNow.contains))
          Some(fileSchema.catalogString + "\n" +
            fileSchema.fieldNames.map(fidsNow).mkString(" "))
        else None
      // footer reads in a bounded driver pool: ParquetFileReader.open is
      // ~ms each and a wide backfill has partitions x files of them —
      // sequential, that re-grows into seconds of driver time the fused
      // gate just saved (measured: 128 dirs x 8 files ~ 6 s serial,
      // sub-second at 16 threads)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, byDir.size max 1))
      val counts: Seq[Long] =
        try {
          import scala.jdk.CollectionConverters._
          pool.invokeAll(byDir.map { case (leaf, _) =>
            (() => Tables.parquetRowCount(leaf)): java.util.concurrent.Callable[Long]
          }.asJava).asScala.toSeq.map(_.get())
        } finally { pool.shutdown(); () }
      val published = byDir.zip(counts).map { case ((leaf, vs), n) =>
        // in-place mode (object stores): no rename — the manifest
        // references the leaf by relative path where Spark wrote it
        // (leaf names are URLEncoder output: manifest-charset-safe)
        val (name, dest) =
          if (inPlaceData(tableDir))
            (s"${bulkRoot.getName}/${leaf.getName}", leaf)
          else {
            val nm = s"txn-${UUID.randomUUID()}"
            val d = new File(dataDir(tableDir), nm)
            Files.move(leaf.toPath, d.toPath, StandardCopyOption.ATOMIC_MOVE)
            (nm, d)
          }
        Files.write(new File(dest, ".part").toPath,
          recordCols.zip(vs).map { case (c, v) => s"$c=$v" }
            .mkString("\n").getBytes("UTF-8"))
        Files.write(new File(dest, ".nrows").toPath, n.toString.getBytes("UTF-8"))
        colsSidecar.foreach(c => Files.write(new File(dest, ".cols").toPath,
          c.getBytes("UTF-8")))
        (name, vs, n)
      }
      ok = true
      published
    } finally {
      // in-place success keeps the root — its leaves ARE the staged
      // data; everything else (rename mode, or any failure) cleans up.
      // A publish that later loses its commit race leaves the leaves
      // unreferenced — vacuum's orphan sweep reaps the root wholesale.
      if (!(ok && inPlaceData(tableDir))) deleteRec(bulkRoot)
    }
  }

  /** PARTITIONED atomic overwrite: replace exactly the partitions whose
    * `partCol` values appear in `df`, in one commit — partitions absent
    * from `df` keep their live dirs untouched (and time travel still
    * sees every pre-commit partition). This is the dynamic-partition-
    * overwrite of a partitioned lake table, made atomic and versioned:
    * the plain-parquet `Sinks.overwritePartitions` documented exactly
    * this gap (non-atomic leaf swaps). One staged dir per value, each
    * carrying a `.part` sidecar that the manifest folds into its
    * `parts` map — so a partition read plans dirs from ONE manifest.
    *
    * Read-modify-write on the partition list → publishes ONLY at
    * base+1 and throws [[CommitConflict]] if the slot is taken (merge/
    * compact semantics). Every pre-existing live dir must carry a
    * partition value on the SAME column — mixing partitioned commits
    * with unpartitioned appends would make "which dirs hold value X"
    * unanswerable, so it throws instead.
    *
    * BACKFILL-SHAPED since round 12: the whole batch stages as ONE
    * shuffled write job regardless of partition cardinality (see
    * [[stagePartitionsBulk]]) — a 1000-partition backfill is exactly one
    * job (since round 13 the CHECK/generated gate fuses into the write
    * and row counts come from parquet footers, so the round-12 read-back
    * aggregate is gone too), not 1000 scheduled jobs, and the per-value
    * `distinct().collect()` is gone (values come from the staged dir
    * listing, bounded by partition cardinality — the same discovery
    * Spark's own dynamic partitionBy performs).
    */
  def overwritePartitions(spark: SparkSession, tableDir: String, df: DataFrame,
                          partCol: String, txnId: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.col
    require(!partCol.contains("=") && !partCol.contains("\"") &&
        !partCol.contains("}"),
      s"unsupported characters in partition column name '$partCol'")
    txnId.flatMap(findTxn(tableDir, _)) match {
      case Some(v) => return v // replayed commit
      case None    =>
    }
    dataDir(tableDir).mkdirs(); logDir(tableDir).mkdirs()
    enforceSchema(df, tableDir)
    require(!df.columns.contains(bulkPartCol),
      s"column name $bulkPartCol is reserved by the partition writer")
    // the partition value rides to `partitionBy` as a DUPLICATE string
    // column, so the data files keep the real column; the duplicate
    // lands in dir names only — URL-ENCODED, so staged paths stay
    // pure ASCII on any filesystem locale (a raw 'é' in a dir name
    // crashes the Hadoop writer under a non-UTF-8 sun.jnu.encoding;
    // the old per-value loop never put values in paths, and the bulk
    // path must not regress non-ASCII partition values)
    val dfp = df.withColumn(bulkPartCol,
      org.apache.spark.sql.functions.url_encode(col(partCol).cast("string")))
    val staged = stagePartitionsBulk(spark, tableDir, dfp, bulkPartCol,
      Seq(partCol), s"null $partCol partition values unsupported")
    publishPartitionSwap(tableDir, staged.map(_._1), staged.map(_._2),
      Seq(partCol), txnId, None, recordableDdl(df.schema))
  }

  /** MULTI-COLUMN partitioned atomic overwrite (round 13): the
    * [[overwritePartitions]] semantics on an ORDERED column vector —
    * replace exactly the partitions whose `(partCols…)` value TUPLES
    * appear in `df`, one staged dir per tuple, each carrying a
    * multi-line `.part` sidecar folded into the manifest as an ordered
    * value vector (`&c1=v1|c2=v2`). Still ONE shuffled staging job for
    * any tuple cardinality: the levels ride to `partitionBy` as a single
    * '|'-joined url-encoded carrier (url_encode escapes '|' itself, so
    * the join is unambiguous), and per-leaf row counts come from parquet
    * footers. Level-1 consumers of the manifest stay sound — `parts`
    * exposes the first level; `partsN` carries the full vector for
    * [[readPartition]]'s spec overload, multi-column SHOW PARTITIONS and
    * tuple-scoped conflict detection. The hidden-transform path is
    * untouched: compose a transform when the level is DERIVED, a column
    * vector when it is real data. */
  def overwritePartitions(spark: SparkSession, tableDir: String, df: DataFrame,
                          partCols: Seq[String],
                          txnId: Option[String]): Long = {
    import org.apache.spark.sql.functions.{col, concat, lit, url_encode}
    if (partCols.size == 1)
      return overwritePartitions(spark, tableDir, df, partCols.head, txnId)
    require(partCols.nonEmpty && partCols.size == partCols.distinct.size,
      s"partition columns must be non-empty and distinct: $partCols")
    partCols.foreach(c => require(
      !c.contains("=") && !c.contains("\"") && !c.contains("}") &&
        !c.contains("|") && !c.startsWith("&"),
      s"unsupported characters in partition column name '$c'"))
    txnId.flatMap(findTxn(tableDir, _)) match {
      case Some(v) => return v // replayed commit
      case None    =>
    }
    dataDir(tableDir).mkdirs(); logDir(tableDir).mkdirs()
    enforceSchema(df, tableDir)
    require(!df.columns.contains(bulkPartCol),
      s"column name $bulkPartCol is reserved by the partition writer")
    // one carrier column = '|'-joined url-encoded levels; concat (not
    // concat_ws) propagates NULLs so a null level lands in the Hive
    // default partition and rejects with a typed message
    val carrier = concat(partCols.flatMap(c =>
      Seq(url_encode(col(c).cast("string")), lit("|"))).dropRight(1): _*)
    val dfp = df.withColumn(bulkPartCol, carrier)
    val staged = stagePartitionsBulk(spark, tableDir, dfp, bulkPartCol,
      partCols, s"null values in (${partCols.mkString(", ")}) partition " +
        "tuples unsupported")
    publishPartitionSwap(tableDir, staged.map(_._1), staged.map(_._2),
      partCols, txnId, None, recordableDdl(df.schema))
  }

  /** The live dirs that can hold rows matching every `spec` entry: a dir
    * whose recorded vector CONTRADICTS any pinned level is pruned; dirs
    * with missing or other-column info must be planned. Partial specs
    * prune partially (pin only level 1 of a two-level layout and every
    * level-2 dir under it plans) — the Hive-style subtree read. */
  def prunePartitionSpec(snap: Snapshot, spec: Map[String, String]): Seq[String] =
    snap.live.filter { d =>
      val vec = snap.partsN.getOrElse(d, snap.parts.get(d).toSeq)
      spec.forall { case (c, v) =>
        vec.find(_._1 == c).forall(_._2 == v) // absent level: must plan
      }
    }

  /** Multi-column partition read: plans [[prunePartitionSpec]]'s dirs
    * from one manifest fetch, then applies residual equality filters for
    * every spec column present in the data (hidden levels require
    * partition-exact dirs, as in the single-column read). */
  def readPartition(spark: SparkSession, tableDir: String,
                    spec: Map[String, String],
                    version: Option[Long]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(spec.nonEmpty, "empty partition spec — use read() for a full scan")
    val v = version.orElse(latestVersion(tableDir))
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    val snap = snapshot(tableDir, v)
    val planned = prunePartitionSpec(snap, spec)
    val df =
      if (planned.isEmpty) read(spark, tableDir, Some(v)).limit(0)
      else readDirsDV(spark, tableDir, snap, planned)
    spec.foldLeft(df) { case (acc, (c, pv)) =>
      if (acc.columns.contains(c))
        acc.filter(acc.col(c) === lit(pv).cast(acc.schema(c).dataType))
      else {
        require(planned.forall(d =>
          snap.partsN.getOrElse(d, snap.parts.get(d).toSeq)
            .exists { case (cc, vv) => cc == c && vv == pv }),
          s"column $c is not in the data and a planned dir carries no " +
            s"exact $c=$pv partition value — unsound hidden read")
        acc
      }
    }
  }

  def readPartition(spark: SparkSession, tableDir: String,
                    spec: Map[String, String]): DataFrame =
    readPartition(spark, tableDir, spec, None)

  /** Partition-scoped compaction on a (possibly partial) multi-column
    * spec: rewrite ONLY [[prunePartitionSpec]]'s dirs into one bin-packed
    * dir; every other partition keeps its dirs byte-untouched. The packed
    * dir records the levels that are EXACT across everything it merged —
    * compacting a full tuple keeps the full vector; compacting a level-1
    * subtree keeps level 1 and widens deeper levels (later spec reads
    * for those levels still plan the packed dir, conservatively). */
  def compactPartition(spark: SparkSession, tableDir: String,
                       spec: Map[String, String], targetFiles: Int): Long = {
    val base = latestVersion(tableDir)
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    val snap = snapshot(tableDir, base)
    val targets = prunePartitionSpec(snap, spec)
    if (targets.isEmpty || (targets.size == 1 && !snap.dvs.contains(targets.head)))
      return base // metadata no-op: nothing to pack
    def vecOf(d: String): Seq[(String, String)] =
      snap.partsN.getOrElse(d, snap.parts.get(d).toSeq)
    // levels exact across every merged dir survive on the packed dir
    val common = targets.map(vecOf).reduce { (a, b) =>
      a.filter { case (c, v) => b.contains((c, v)) }
    }
    val kept = snap.live.filterNot(targets.contains)
    val packed = readDirsDV(spark, tableDir, snap, targets).coalesce(targetFiles)
    val stagedName = stage(packed, tableDir, None)
    if (common.nonEmpty)
      Files.write(new File(new File(dataDir(tableDir), stagedName), ".part").toPath,
        common.map { case (c, v) => s"$c=$v" }.mkString("\n").getBytes("UTF-8")): Unit
    if (!tryPublish(tableDir, base + 1L, "compact", kept :+ stagedName, None,
        dvs = snap.dvs, schema = snap.schema))
      throw new CommitConflict(
        s"concurrent commit at version ${base + 1}; re-read and retry the compaction")
    maybeCheckpoint(tableDir, base + 1L)
    base + 1L
  }

  /** Reserved dir-name carrier column for [[overwritePartitions]]'
    * bulk staging write. */
  private val bulkPartCol = "__graft_part"

  /** Shared publish tail of the partition-overwrite family, with
    * LOGICAL conflict resolution (Delta's ConflictChecker /
    * WriteSerializable): losing the base+1 race is only a real
    * conflict if the winner touched one of OUR partitions. Disjoint-
    * partition writers — the 1000-executor load pattern, one loader
    * per partition — rebase and land instead of serializing through
    * caller-level retries. Each rebase re-reads the new base,
    * re-checks overlap, and re-plans `kept`; the staged dirs never
    * change. `ptrans` is the hidden-partition spec to publish (None =
    * inherit the previous manifest's); `ddl` is the schema a first
    * commit records (later ones carry their base's). */
  private def publishPartitionSwap(tableDir: String, staged: Seq[String],
                                   byValue: Seq[Seq[String]], partCols: Seq[String],
                                   txnId: Option[String],
                                   ptrans: Option[Option[(String, String)]],
                                   ddl: Option[String],
                                   oldEraAliases: Set[String] = Set.empty): Long = {
    // a dir's full ordered partition vector (partsN for multi-col dirs,
    // parts for the historical single-col form)
    def vecOf(snap: Snapshot, d: String): Option[Seq[(String, String)]] =
      snap.partsN.get(d).orElse(snap.parts.get(d).map(Seq(_)))
    latestVersion(tableDir) match {
      case None =>
        if (!tryPublish(tableDir, 0L, "overwritePartitions", staged, txnId,
            schema = ddl, ptransOverride = ptrans))
          throw new CommitConflict(s"concurrent first commit at $tableDir")
        0L
      case Some(base) =>
        var attempt = base
        while (true) {
          val snap = snapshot(tableDir, attempt)
          val kept = snap.live.flatMap { d =>
            vecOf(snap, d) match {
              case Some(vec) if vec.map(_._1) == partCols =>
                if (byValue.contains(vec.map(_._2))) None else Some(d)
              // a PREVIOUS spec era's dir (hidden-partition evolution):
              // always kept — this write replaces only same-spec
              // partitions; old-era dirs stay until rewritten
              case Some(vec) if vec.size == 1 && oldEraAliases.contains(vec.head._1) =>
                Some(d)
              // a PARTIAL vector: compactPartition on a partial spec
              // packs several deep-level partitions into one dir that
              // records only the levels exact across everything merged
              // (e.g. [(status,F)] on a (status,year) table). Keepable
              // iff provably DISJOINT from every incoming tuple at its
              // recorded levels — then it cannot hold rows of any
              // partition this write replaces. Overlap is a genuine
              // conflict (dir-granular replacement cannot carve the
              // overlapping partition out of the packed dir), reported
              // with a recovery path instead of bricking the writer.
              case Some(vec) if vec.nonEmpty && vec.map(_._1).forall(partCols.contains) =>
                val overlaps = byValue.exists(tuple =>
                  vec.forall { case (c, pv) => tuple(partCols.indexOf(c)) == pv })
                if (overlaps) throw new CommitConflict(
                  s"live dir $d is a partial-spec compaction over " +
                    s"(${vec.map { case (c, pv) => s"$c=$pv" }.mkString(", ")}) " +
                    "overlapping an incoming partition — its deep levels " +
                    "were merged and cannot be carved back out; rewrite the " +
                    "affected subtree (read it, full-table overwrite or " +
                    "reload onto a fresh table), or keep tuple-overwritten " +
                    "partitions out of partial-spec compactions")
                Some(d)
              case _ => throw new IllegalStateException(
                s"live dir $d carries no partition vector on " +
                  s"(${partCols.mkString(", ")}) — not a table partitioned on " +
                  "these columns; overwrite fully instead")
            }
          }
          if (tryPublish(tableDir, attempt + 1L, "overwritePartitions",
              kept ++ staged, txnId, dvs = snap.dvs, schema = snap.schema,
              ptransOverride = ptrans)) {
            maybeCheckpoint(tableDir, attempt + 1L)
            return attempt + 1L
          }
          // slot taken — inspect the winner: which partitions did it
          // touch? (added dirs ∪ removed dirs, vectors from the parts
          // maps). Overlap with ours → genuine conflict (Delta's
          // ConcurrentAppendException); disjoint → rebase past it.
          val winner = snapshot(tableDir, attempt + 1L)
          val safeAction = winner.action == "append" ||
            winner.action == "overwritePartitions"
          val touched = (winner.live.diff(snap.live).map(d => vecOf(winner, d)) ++
            snap.live.diff(winner.live).map(d => vecOf(snap, d)))
          val overlap = touched.exists {
            case Some(vec) =>
              vec.map(_._1) == partCols && byValue.contains(vec.map(_._2))
            case None => true // unpartitioned dir: can't prove disjoint
          }
          if (!safeAction || overlap)
            throw new CommitConflict(
              s"concurrent ${winner.action} at version ${attempt + 1} touched " +
                s"overlapping partitions; re-read and retry")
          attempt += 1
        }
        throw new IllegalStateException("unreachable")
    }
  }

  /** The live dirs that can hold rows with `partCol = value`: dirs
    * recording a DIFFERENT value on that column are pruned; dirs with
    * no (or other-column) partition info must be planned. */
  def prunePartition(snap: Snapshot, partCol: String, value: String): Seq[String] =
    snap.live.filter(d => snap.parts.get(d) match {
      case Some((`partCol`, pv)) => pv == value
      case _                     => true
    })

  /** One-partition snapshot read: plans only [[prunePartition]]'s dirs
    * (one manifest fetch — no listing, no sidecar reads), then applies
    * the residual equality filter, which is a no-op on exact-partition
    * dirs and prunes rows of any unpartitioned dirs. Composes with time
    * travel: `version` selects which manifest plans the read. */
  def readPartition(spark: SparkSession, tableDir: String, partCol: String,
                    value: String, version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val v = version.orElse(latestVersion(tableDir))
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    val snap = snapshot(tableDir, v)
    val planned = prunePartition(snap, partCol, value)
    val df =
      if (planned.isEmpty) read(spark, tableDir, Some(v)).limit(0)
      else readDirsDV(spark, tableDir, snap, planned)
    if (df.columns.contains(partCol))
      df.filter(df.col(partCol) === lit(value).cast(df.schema(partCol).dataType))
    else {
      // HIDDEN partition column (the [[overwritePartitionsHidden]]
      // family stores the transform value only in `.part` sidecars,
      // never in the data) — no residual is possible, so every planned
      // dir must be partition-EXACT for the read to be sound
      require(planned.forall(d => snap.parts.get(d)
          .exists { case (c, pv) => c == partCol && pv == value }),
        s"column $partCol is not in the data and a planned dir carries no " +
          s"exact $partCol=$value partition value — unsound hidden read")
      df
    }
  }

  /** HIDDEN partitioning (Iceberg partition transforms): partition by
    * a DERIVED value — `alias` = `transformSql(df)`, e.g. a month
    * bucket `substring(cast(ts as string), 1, 7)` or a hash bucket
    * `pmod(id, 64)` — that is computed at write time, recorded ONLY in
    * `.part` sidecars + the manifest (never materialized into the data
    * files), and whose spec rides in the manifest itself (`pta`/`pte`,
    * carried forward like schema/constraints), so writers cannot
    * silently diverge the layout: a later call with a different
    * transform is rejected, queries never need to know the scheme, and
    * changing it is an explicit future spec-evolution commit — exactly
    * the failure Iceberg's hidden partitioning exists to prevent
    * (Hive-style user-maintained partition columns going stale/wrong).
    * Readers probe by SOURCE-column values ([[readPartitionHidden]]) —
    * the engine re-evaluates the transform to find the partition — or
    * by transform value ([[readPartition]] on `alias`, residual-free
    * since every planned dir is partition-exact). Same atomic swap,
    * conflict-rebase, and time-travel semantics as
    * [[overwritePartitions]]. */
  /** `evolveSpec = true` enables Iceberg-style PARTITION SPEC EVOLUTION:
    * a write whose (alias, transform) differs from the manifest-carried
    * spec commits under the NEW spec — the new spec becomes current
    * (`pta`/`pte`), the old one stays in the accumulative history
    * (`pth`), old-era dirs KEEP their layout (planned under their own
    * recorded transform by [[readPartitionHidden]]) and are never
    * replaced by new-spec writes; rewriting them under the new spec is
    * an explicit later compaction. The new alias must be FRESH (never
    * used by any past spec) so `parts` entries stay unambiguous. With
    * the default `false`, a divergent write is rejected exactly as
    * before — evolution is an explicit, audited decision, not an
    * accident. */
  def overwritePartitionsHidden(spark: SparkSession, tableDir: String,
                                df: DataFrame, alias: String, transformSql: String,
                                txnId: Option[String] = None,
                                evolveSpec: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{col, expr}
    require(alias.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"partition alias '$alias' must be identifier-shaped")
    require(!transformSql.exists(c => c == '"' || c == '}' || c == '\n'),
      "partition transform must not contain '\"', '}' or newlines")
    require(!df.columns.contains(alias),
      s"alias $alias collides with a data column — hidden means NOT in the data")
    txnId.flatMap(findTxn(tableDir, _)) match {
      case Some(v) => return v // replayed commit
      case None    =>
    }
    dataDir(tableDir).mkdirs(); logDir(tableDir).mkdirs()
    enforceSchema(df, tableDir)
    // the manifest-carried spec is the ONLY allowed layout — unless this
    // is an explicit spec evolution
    var oldAliases = Set.empty[String]
    latestVersion(tableDir).foreach { v =>
      val sn = snapshot(tableDir, v)
      sn.ptrans match {
        case Some((a, e)) if a == alias && e == transformSql =>
          oldAliases = sn.pthist.keySet - alias
        case Some((a, e)) if evolveSpec =>
          require(!(sn.pthist.keySet + a).contains(alias),
            s"spec evolution needs a FRESH alias: '$alias' was already a " +
              "partition spec of this table")
          oldAliases = sn.pthist.keySet + a
        case Some((a, e)) =>
          throw new IllegalArgumentException(
            s"table is hidden-partitioned by $a = $e (manifest-carried " +
              s"spec); a write with $alias = $transformSql would diverge the " +
              "layout — pass evolveSpec = true to evolve it explicitly")
        case None => throw new IllegalStateException(
          s"$tableDir is not hidden-partitioned; use overwritePartitions " +
            "or overwrite instead")
      }
    }
    // the alias column is consumed by `partitionBy` itself — it lands
    // in dir names and NEVER in the data files (hidden means hidden);
    // url_encode keeps staged paths ASCII (see overwritePartitions);
    // per-leaf row counts come from the staged files' own footers, so
    // no count-side re-evaluation of the transform exists to diverge
    val withA = df.withColumn(alias,
      org.apache.spark.sql.functions.url_encode(expr(transformSql).cast("string")))
    val staged = stagePartitionsBulk(spark, tableDir, withA, alias, Seq(alias),
      s"transform $transformSql evaluates to null for some rows")
    publishPartitionSwap(tableDir, staged.map(_._1), staged.map(_._2), Seq(alias),
      txnId, Some(Some((alias, transformSql))), recordableDdl(df.schema),
      oldEraAliases = oldAliases)
  }

  /** Query a hidden-partitioned table by SOURCE-column equality — the
    * Iceberg read path: the engine evaluates the manifest-carried
    * transform on the probe row (driver-side, one row, zero data
    * read), plans exactly the matching partition's dirs from the
    * manifest, and applies the probe equalities as the residual (the
    * probe columns ARE in the data; the transform value is not). The
    * caller never knows the partitioning exists — repartitioning by a
    * different transform changes no query. */
  def readPartitionHidden(spark: SparkSession, tableDir: String,
                          probe: Map[String, Any],
                          version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{expr, lit}
    require(probe.nonEmpty, "probe needs at least one column = value pair")
    val v = version.orElse(latestVersion(tableDir))
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    val snap = snapshot(tableDir, v)
    require(snap.ptrans.isDefined,
      s"$tableDir carries no hidden-partition spec")
    val one = probe.foldLeft(spark.range(1).toDF()) {
      case (acc, (c, x)) => acc.withColumn(c, lit(x))
    }
    // evaluate EVERY spec era's transform on the probe (driver-side, one
    // row each): a dir partitioned under era E prunes by E's OWN
    // transform value — this is Iceberg's spec evolution, where old dirs
    // stay planned under the spec they were written with. A transform
    // that cannot evaluate on the probe columns keeps its era's dirs
    // (sound — never prune what can't be disproven).
    val specs = snap.pthist ++ snap.ptrans
    val eraValue: Map[String, Option[String]] = specs.map { case (a, e) =>
      a -> scala.util.Try(
        Option(one.select(expr(e).cast("string")).head().getString(0))).toOption.flatten
    }
    require(snap.ptrans.forall { case (a, _) => eraValue(a).isDefined },
      s"current transform is null/unevaluable for probe $probe")
    val planned = snap.live.filter(d => snap.parts.get(d) match {
      case Some((a, pv)) if specs.contains(a) =>
        eraValue(a) match {
          case Some(want) => pv == want
          case None       => true // unevaluable era: must plan
        }
      case _ => true
    })
    val df =
      if (planned.isEmpty) read(spark, tableDir, Some(v)).limit(0)
      else readDirsDV(spark, tableDir, snap, planned)
    probe.foldLeft(df) { case (acc, (c, x)) =>
      acc.filter(acc.col(c) === lit(x).cast(acc.schema(c).dataType))
    }
  }

  /** CREATE an EMPTY table: record the schema and publish version 0
    * with an empty live set — the `CREATE TABLE graft.`…`(cols)` DDL
    * primitive ([[GraftCatalog.createTable]]; CTAS appends on top as
    * v1). A schema-only commit: zero data files, one manifest. Throws
    * if the location already has commits (CREATE is not idempotent —
    * use IF NOT EXISTS at the dispatch layer). */
  def create(tableDir: String, schema: org.apache.spark.sql.types.StructType): Long = {
    require(latestVersion(tableDir).isEmpty,
      s"$tableDir already has commits — cannot CREATE over an existing table")
    require(schema.nonEmpty, "CREATE needs at least one column")
    dataDir(tableDir).mkdirs(); logDir(tableDir).mkdirs()
    Files.write(new File(tableDir, "_schema").toPath,
      schema.catalogString.getBytes("UTF-8"))
    if (!tryPublish(tableDir, 0L, "create", Nil, None,
        schema = Some(schema.catalogString)))
      throw new CommitConflict(s"concurrent first commit at $tableDir")
    0L
  }

  /** Append `df` as one atomic commit; returns the committed version.
    * Idempotent per `txnId` (a retried commit is skipped). With
    * `statsCol` set (a long-typed column), the staged dir records that
    * column's min/max in a sidecar — file-level pruning metadata that
    * [[merge]] uses to rewrite only affected dirs. */
  def append(df: DataFrame, tableDir: String, txnId: Option[String] = None,
             statsCol: Option[String] = None): Long =
    commit(df, tableDir, "append", txnId, statsCol)

  /** Replace the whole table content in one atomic commit. Readers of
    * older versions are unaffected (their manifests and data remain). */
  def overwrite(df: DataFrame, tableDir: String, txnId: Option[String] = None,
                statsCol: Option[String] = None): Long =
    commit(df, tableDir, "overwrite", txnId, statsCol)

  final class SchemaMismatch(msg: String) extends RuntimeException(msg)

  /** Schema-on-write: the first commit records the table schema
    * (catalog DDL) at `_schema`; every later commit must match it
    * exactly or throw — a drifted producer would otherwise corrupt
    * reads silently (a multi-dir parquet read takes one file's schema
    * and misparses the rest). Schema evolution is an explicit
    * `overwrite` after migrating the data, never an accident.
    */
  private def enforceSchema(df: DataFrame, tableDir: String): Unit = {
    val f = new File(tableDir, "_schema")
    val ddl = df.schema.catalogString
    // post-evolution the latest manifest's carried DDL is the table
    // schema (atomic with the addColumn commit); `_schema` is the
    // pre-evolution fallback and the first-commit record
    // the empty-filter guards a RACING first commit: Files.write is not
    // atomic, so a concurrent appender could read `_schema` created but
    // not yet filled — an empty record is "absent", never a schema
    val expected = latestVersion(tableDir)
      .flatMap(v => snapshot(tableDir, v).schema)
      .orElse(if (f.exists())
        Some(new String(Files.readAllBytes(f.toPath), "UTF-8"))
          .filter(_.nonEmpty)
        else None)
    expected match {
      case None =>
        // atomic publish (tmp + move): racing first committers carry
        // the SAME ddl (both passed the None check against the same
        // absent state), so last-writer-wins replace is contention-safe
        // and a reader never observes a torn/empty record
        f.getParentFile.mkdirs()
        val tmp = new File(f.getParentFile, s".tmp-schema-${UUID.randomUUID()}")
        Files.write(tmp.toPath, ddl.getBytes("UTF-8"))
        try Files.move(tmp.toPath, f.toPath, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING): Unit
        finally { Files.deleteIfExists(tmp.toPath); () }
      case Some(exp) if exp != ddl =>
        throw new SchemaMismatch(
          s"commit schema $ddl does not match the table's $exp; " +
            "add columns via addColumn or migrate and overwrite explicitly")
      case _ => ()
    }
  }

  /** True iff `df`'s column `c` is an integral type — the only types the
    * `.stats` sidecar's long min/max bounds soundly. A partially-castable
    * string/double column would write bounds over the castable subset
    * only, and a "disjoint" dir could still hold a matching uncastable
    * key → merge would insert a duplicate instead of replacing. */
  private def isIntegral(df: DataFrame, c: String): Boolean =
    isIntegralType(df.schema(c).dataType)

  /** String columns get their own bound family (`.sstats`, byte-order
    * truncated — see [[truncatedStringBounds]]); every other
    * non-integral type still rejects as a stats column. */
  private def isStringCol(df: DataFrame, c: String): Boolean =
    df.schema(c).dataType == org.apache.spark.sql.types.StringType

  /** DATE/TIMESTAMP stats columns ride the INTEGRAL `.stats` tier
    * (round 14): bounds are recorded as epoch days / epoch micros via
    * [[longProj]], and the DSv2 prune tier translates pushed
    * Date/Timestamp filter values identically (GraftScan.longOf through
    * Spark's own DateTimeUtils). Both sides engine-controlled — the
    * rendering-drift hazard that keeps dates out of PARTITION pruning
    * ([[GraftScan.stableRender]]) cannot arise for bounds. */
  private def isDatelike(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }

  /** DECIMAL stats columns (round 14) also ride the integral tier:
    * bounds are recorded as the UNSCALED long (value × 10^scale — exact
    * by definition for DecimalType, no float rounding), gated on
    * precision ≤ 18 so the unscaled value always fits a long. The DSv2
    * prune tier translates pushed BigDecimal filter values to the same
    * unscaled form using the column's schema scale (GraftScan), so both
    * sides stay engine-controlled. */
  private def isScaledDecimal(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case d: org.apache.spark.sql.types.DecimalType => d.precision <= 18
      case _ => false
    }

  /** A column the long-bounds `.stats` family soundly covers. */
  private def longStatsable(df: DataFrame, c: String): Boolean =
    isIntegral(df, c) || isDatelike(df.schema(c).dataType) ||
      isScaledDecimal(df.schema(c).dataType)

  /** The engine-canonical long projection of a stats column: integrals
    * cast (identity); DATE → epoch days (`unix_date`), TIMESTAMP →
    * epoch micros (`unix_micros`). Total functions — every value maps,
    * so dir bounds cover every row (the partial-cast hazard that bars
    * string/double columns from this tier does not apply). */
  private def longProj(df: DataFrame, c: String): Column = {
    import org.apache.spark.sql.functions.{col, unix_date, unix_micros}
    df.schema(c).dataType match {
      // unix_date yields INT — normalize to LONG so the bloom/stats
      // tier sees the exact type the probe side compares with
      case org.apache.spark.sql.types.DateType      => unix_date(col(c)).cast("long")
      case org.apache.spark.sql.types.TimestampType => unix_micros(col(c))
      // NTZ has no session-timezone-free SQL projection — the native
      // identity reinterpret is the engine-controlled one (the internal
      // long IS the local micros the pushed LocalDateTime translates to)
      case org.apache.spark.sql.types.TimestampNTZType =>
        graft.functions.TimeKernels.ntzMicros(col(c))
      // decimal → UNSCALED long: value × 10^scale is integral by
      // definition, so the decimal product (precision p+20 ≤ 38 under
      // the p ≤ 18 gate) casts to long exactly
      case d: org.apache.spark.sql.types.DecimalType =>
        import org.apache.spark.sql.functions.lit
        val pow10 = (1 to d.scale).foldLeft(1L)((a, _) => a * 10L)
        (col(c) * lit(pow10)).cast("long")
      case _                                        => col(c).cast("long")
    }
  }

  private def requireStatsable(df: DataFrame, c: String): Unit =
    require(longStatsable(df, c) || isStringCol(df, c),
      s"statsCol $c must be an integral, string, date, timestamp or " +
        s"decimal(≤18) type, got " + df.schema(c).dataType.sql)

  private def isIntegralType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** The snapshot's EFFECTIVE schema: the manifest-carried evolved DDL
    * when present, else the table's `_schema` record. This — not any one
    * dir's parquet footer — is what column checks must consult: on a
    * schema-evolved table, pre-evolution dirs simply LACK added columns
    * (the reader null-backfills them), so a footer check would reject
    * legitimate operations on added columns. */
  private[sources] def effectiveSchema(tableDir: String,
                                       snap: Snapshot): Option[org.apache.spark.sql.types.StructType] =
    snap.schema.orElse {
      val f = new File(tableDir, "_schema")
      if (f.exists()) Some(new String(Files.readAllBytes(f.toPath), "UTF-8"))
      else None
    }.map(structOf)

  /** The DDL a commit records as its manifest `schema`, which every
    * read of that version hands the parquet reader: `st`'s catalog
    * string, provided it parses back to itself and holds no '"' (the
    * manifest's flat-field parse ends a value at the first '"').
    * Otherwise nothing is recorded and reads of the version infer. */
  private def recordableDdl(st: org.apache.spark.sql.types.StructType): Option[String] = {
    val ddl = st.catalogString
    Some(ddl).filter(d => !d.contains('"') &&
      scala.util.Try(structOf(d).catalogString == d).getOrElse(false))
  }

  /** Stage `df` as an immutable data dir (invisible until a manifest
    * references it), with a `.nrows` row-count sidecar (folded into the
    * manifest — the Delta operationMetrics/numRecords analogue, what
    * makes [[history]] metadata-only) and the optional min/max stats
    * sidecar. Without a stats column the row count is the staged files'
    * parquet-footer record counts, summed on the driver: the write is
    * the only job. A stats column (or a constraint) adds read-back
    * aggregates over the staged dir, read with `df`'s own schema, so no
    * job infers it. The stats column must be integral (see
    * [[isIntegral]]). */
  private def stage(df: DataFrame, tableDir: String,
                    statsCol: Option[String],
                    fidsForSidecar: Option[Map[String, Int]] = None): String = {
    statsCol.foreach(requireStatsable(df, _))
    val staged = s"txn-${UUID.randomUUID()}"
    val dir = new File(dataDir(tableDir), staged)
    // a failed write (a rejected batch) leaves no trace
    try df.write.mode("overwrite").parquet(dir.getPath)
    catch { case t: Throwable => deleteRec(dir); throw t }
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val back = df.sparkSession.read.schema(df.schema).parquet(dir.getPath)
    val n = statsCol match {
      case Some(c) if isStringCol(df, c) =>
        // STRING bounds (round 13): min/max under Spark's own ordering
        // (unsigned UTF-8 byte order), truncated byte-conservatively into
        // the `.sstats` sidecar — the tier that lets status/date/category
        // string predicates prune dirs, which integral bounds never
        // could. Null counts and the KMV NDV sketch apply unchanged
        // (xxhash64 is type-agnostic); the long-keyed bloom point index
        // does not (readPoint is integral by contract).
        val r = back.agg(count(lit(1)), min(col(c)), max(col(c)),
          count(col(c))).head()
        if (!r.isNullAt(1)) {
          val (lo, hi) = truncatedStringBounds(r.getString(1), r.getString(2))
          Files.write(new File(dir, ".sstats").toPath,
            s"$c:$lo:$hi".getBytes("UTF-8")): Unit
        }
        Files.write(new File(dir, ".nulls").toPath,
          s"$c:${r.getLong(0) - r.getLong(3)}".getBytes("UTF-8")): Unit
        if (r.getLong(3) > 0L) {
          import org.apache.spark.sql.functions.{shiftrightunsigned, transform, xxhash64}
          val mins = back.where(col(c).isNotNull)
            .select(shiftrightunsigned(xxhash64(col(c)), 16).as("hv"))
            .distinct()
            .agg(graft.functions.TopKLongs.topK(-col("hv"), col("hv"), 64).as("tk"))
            .select(transform(col("tk"), x => x.getField("id")).as("ids"))
            .head().getSeq[Long](0)
          Files.write(new File(dir, ".kmv").toPath,
            s"$c:${mins.mkString(",")}".getBytes("UTF-8")): Unit
        }
        r.getLong(0)
      case Some(c) =>
        val lp = longProj(back, c) // identity for integrals; epoch days/micros for dates
        val r = back.agg(count(lit(1)), min(lp), max(lp), count(col(c))).head()
        if (!r.isNullAt(1))
          Files.write(new File(dir, ".stats").toPath,
            s"$c:${r.getLong(1)}:${r.getLong(2)}".getBytes("UTF-8")): Unit
        // null count on the stats column — written even when bounds are
        // null (an ALL-null dir has no min/max but a definite null
        // count), the tier that lets IS [NOT] NULL prune dirs
        Files.write(new File(dir, ".nulls").toPath,
          s"$c:${r.getLong(0) - r.getLong(3)}".getBytes("UTF-8")): Unit
        // point-lookup index: a per-dir BLOOM sidecar over the stats
        // column (Delta bloom-index / Iceberg puffin shape). Min/max
        // bounds cannot prune a point probe on an interleaved write
        // pattern (every dir spans the key range); the bloom can.
        // Gated on the NON-NULL count: an all-null column has no keys
        // to index and Spark's bloomFilter NPEs on the empty buffer.
        if (r.getLong(3) > 0L) {
          val bf = back.stat.bloomFilter(lp,
            math.max(r.getLong(0), 1L), 0.01)
          val os = new java.io.FileOutputStream(new File(dir, ".bloom"))
          try bf.writeTo(os) finally os.close()
          // NDV sketch: the bottom-64 DISTINCT 48-bit hashes of the
          // column (the q58 KMV construction) — 64 longs per dir,
          // union-min MERGEABLE across dirs, so a scan's planner can
          // estimate the distinct count of exactly its planned subset
          // ([[estimateDistinct]] → DSv2 column statistics). nrows
          // alone sizes a relation; NDV is what join/filter
          // cardinality estimation actually needs.
          import org.apache.spark.sql.functions.{shiftrightunsigned, transform, xxhash64}
          val mins = back.where(col(c).isNotNull)
            .select(shiftrightunsigned(xxhash64(col(c)), 16).as("hv"))
            .distinct()
            .agg(graft.functions.TopKLongs.topK(-col("hv"), col("hv"), 64).as("tk"))
            .select(transform(col("tk"), x => x.getField("id")).as("ids"))
            .head().getSeq[Long](0)
          Files.write(new File(dir, ".kmv").toPath,
            s"$c:${mins.mkString(",")}".getBytes("UTF-8")): Unit
        }
        r.getLong(0)
      case None => Tables.parquetRowCount(dir)
    }
    // write-time CHECK + generated-column enforcement: EVERY row
    // entering the table passes through stage, so this one gate covers
    // append/overwrite/merge/update/delete-rewrite/compact alike. SQL
    // semantics: a CHECK row violates only when the expression IS FALSE
    // (NULL passes, as in standard CHECK); a generated column violates
    // when the stored value is not NULL-SAFE-equal to its expression.
    // One fused pass scores everything; a violation deletes the staged
    // dir — a rejected write leaves no trace.
    val snapG = latestVersion(tableDir).map(v => snapshot(tableDir, v))
    val cons = snapG.map(_.constraints).getOrElse(Map.empty) ++
      snapG.map(_.gens).getOrElse(Map.empty[String, String]).map {
        case (c, e) => s"_gen_$c" -> s"($c) <=> ($e)"
      }
    if (cons.nonEmpty) try {
      import org.apache.spark.sql.functions.{expr, sum, when}
      val scores = cons.toSeq.map { case (nm, e) =>
        sum(when(expr(s"NOT coalesce(($e), true)"), 1L).otherwise(0L)).as(nm)
      }
      val r = back.agg(scores.head, scores.tail: _*).head()
      cons.toSeq.zipWithIndex.foreach { case ((nm, e), i) =>
        if (!r.isNullAt(i) && r.getLong(i) > 0L) {
          deleteRec(dir)
          throw new ConstraintViolation(
            s"CHECK constraint $nm ($e) violated by ${r.getLong(i)} incoming row(s)")
        }
      }
    } catch {
      case cv: ConstraintViolation => throw cv
      case t: Throwable => // unresolvable expr (e.g. post-overwrite schema
        deleteRec(dir)     // drift): reject rather than skip the check
        throw new ConstraintViolation(
          s"CHECK constraint could not be evaluated against the incoming " +
            s"schema: ${t.getMessage}")
    }
    Files.write(new File(dir, ".nrows").toPath, n.toString.getBytes("UTF-8"))
    // `.cols` era sidecar: the dir's write-time DDL + its columns' field
    // ids, so rename/drop/widen evolution can resolve this file forever
    // (fids-less tables write nothing — evolution is pay-for-use;
    // `fidsForSidecar` overrides for the schema-evolving overwrite,
    // whose new ids are minted at publish). Ids are rename-stable, so a
    // concurrent rename between stage and publish cannot stale this.
    val fidsNow = fidsForSidecar.orElse(snapG.map(_.fids)).getOrElse(Map.empty)
    if (fidsNow.nonEmpty && df.schema.fieldNames.forall(fidsNow.contains)) {
      Files.write(new File(dir, ".cols").toPath,
        (df.schema.catalogString + "\n" +
          df.schema.fieldNames.map(fidsNow).mkString(" ")).getBytes("UTF-8")): Unit
    }
    staged
  }

  /** [[stage]] for a result that may be empty, staged first: an empty
    * result (its `.nrows` is 0) deletes its staged dir and stages
    * nothing, so no separate emptiness job runs before the write. */
  private def stageNonEmpty(df: DataFrame, tableDir: String,
                            statsCol: Option[String]): Option[String] = {
    val staged = stage(df, tableDir, statsCol)
    if (nrowsOf(tableDir, staged).exists(_ > 0L)) Some(staged)
    else { deleteRec(new File(dataDir(tableDir), staged)); None }
  }

  /** The stats column's KMV NDV sketch from a data dir's `.kmv`
    * sidecar: (column, ascending bottom-64 distinct 48-bit hashes). */
  def kmvOf(tableDir: String, dataDirName: String): Option[(String, Array[Long])] = {
    sidecarReads.incrementAndGet()
    val f = new File(new File(dataDir(tableDir), dataDirName), ".kmv")
    if (!f.exists()) None
    else new String(Files.readAllBytes(f.toPath), "UTF-8").split(":", 2) match {
      case Array(c, vs) if vs.nonEmpty =>
        Some((c, vs.split(",").map(_.trim.toLong).sorted))
      case _ => None
    }
  }

  /** Distinct-count ESTIMATE of `column` over exactly `dirs`, from the
    * per-dir KMV sidecars: union the minima, keep the 64 smallest —
    * exact below 64 distinct hashes, `63·2^48 / h_64` above (the q58
    * estimator, rel. error ~1/√63 ≈ 13%). None unless EVERY dir carries
    * a sketch for the column (a partial union silently understates).
    * Per-dir sidecar reads (k tiny files), intended for the planner's
    * column-statistics path — advisory cardinality, not correctness. */
  def estimateDistinct(tableDir: String, column: String,
                       dirs: Seq[String]): Option[Long] =
    mergeKmv(dirs.map(d => kmvOf(tableDir, d).filter(_._1 == column)
      .map(_._2.toSeq)))

  /** [[estimateDistinct]] served from the MANIFEST-FOLDED sketches
    * (`kmvs`, round 12) — zero per-dir sidecar reads: the planner's
    * column-statistics path costs exactly the one manifest fetch the
    * scan already paid, at any dir count. None unless EVERY dir folds
    * a sketch for the column (pre-r12 manifests parse to empty —
    * callers fall back to the sidecar path). */
  def estimateDistinctFromManifest(snap: Snapshot, column: String,
                                   dirs: Seq[String]): Option[Long] =
    mergeKmv(dirs.map(d => snap.kmvs.get(d).filter(_._1 == column).map(_._2)))

  private def mergeKmv(sketches: Seq[Option[Seq[Long]]]): Option[Long] =
    if (sketches.isEmpty || sketches.exists(_.isEmpty)) None
    else {
      val merged = sketches.flatMap(_.get).distinct.sorted.take(64)
      Some(if (merged.length < 64) merged.length.toLong
           else 63L * 281474976710656L / math.max(merged.last, 1L))
    }

  /** The stats column's bloom filter from a data dir's `.bloom`
    * sidecar, if present (written alongside `.stats`). */
  def bloomOf(tableDir: String, dataDirName: String):
      Option[(String, org.apache.spark.util.sketch.BloomFilter)] = {
    val f = new File(new File(dataDir(tableDir), dataDirName), ".bloom")
    statsOf(tableDir, dataDirName) match {
      case Some((c, _, _)) if f.exists() =>
        val is = new java.io.FileInputStream(f)
        try Some((c, org.apache.spark.util.sketch.BloomFilter.readFrom(is)))
        finally is.close()
      case _ => None
    }
  }

  /** The live dirs a POINT probe `column = value` can possibly touch:
    * first the manifest min/max bounds ([[pruneLive]] — free, one
    * manifest fetch), then each survivor's `.bloom` sidecar
    * (`mightContain`, no false negatives — a "no" is proof). Unlike
    * stats, blooms are NOT manifest-folded (kilobytes per dir): the
    * probe pays one small sidecar read per bounds-surviving dir, the
    * Iceberg puffin-file trade. On an interleaved write pattern where
    * every dir spans the whole key range, bounds keep everything and
    * the bloom does all the work. */
  def pruneLivePoint(tableDir: String, snap: Snapshot, column: String,
                     value: Long): Seq[String] =
    pruneLive(snap, column, value, value).filter { d =>
      bloomOf(tableDir, d) match {
        case Some((`column`, bf)) => bf.mightContain(value)
        case _                    => true // no bloom on this column: must plan
      }
    }

  /** Point-lookup read: plans only [[pruneLivePoint]]'s dirs, then
    * applies the residual equality (which also pushes into parquet for
    * row-group pruning). The 100 TB shape: an id probe on an
    * append-ordered table touches ~1 file, not the table. */
  def readPoint(spark: SparkSession, tableDir: String, column: String,
                value: Long, version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val v = version.orElse(latestVersion(tableDir))
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    val snap = snapshot(tableDir, v)
    val planned = pruneLivePoint(tableDir, snap, column, value)
    val df =
      if (planned.isEmpty) read(spark, tableDir, Some(v)).limit(0)
      else readDirsDV(spark, tableDir, snap, planned)
    val t = df.schema(column).dataType
    df.filter(df(column) === lit(value).cast(t))
  }

  /** Test introspection: sidecar files probed by the accessor helpers
    * (`statsAllOf`/`partOf`/`nrowsOf`/`nullsOf`/`kmvOf`). The round-12
    * O(new-dirs) publish contract — survivors copy their manifest
    * entries from the previous manifest instead of re-reading sidecars
    * — is pinned by measuring this counter's DELTA across one commit
    * on a wide table. */
  private[graft] val sidecarReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Row count from a data dir's `.nrows` sidecar, if present. */
  def nrowsOf(tableDir: String, dataDirName: String): Option[Long] = {
    sidecarReads.incrementAndGet()
    val f = new File(new File(dataDir(tableDir), dataDirName), ".nrows")
    if (!f.exists()) None
    else new String(Files.readAllBytes(f.toPath), "UTF-8").trim.toLongOption
  }

  /** (col, value) from a data dir's partition sidecar, if present. Like
    * `.stats`, the sidecar is the write-time record; the manifest copy
    * (`parts`) is what the read path plans from. */
  def partOf(tableDir: String, dataDirName: String): Option[(String, String)] =
    mpartOf(tableDir, dataDirName).headOption

  /** The dir's FULL ordered partition-value vector — one `c=v` line per
    * level in the `.part` sidecar (single-col dirs keep their one
    * historical line; [[partOf]] is its level-1 view). */
  def mpartOf(tableDir: String, dataDirName: String): Seq[(String, String)] = {
    sidecarReads.incrementAndGet()
    val f = new File(new File(dataDir(tableDir), dataDirName), ".part")
    if (!f.exists()) Nil
    else new String(Files.readAllBytes(f.toPath), "UTF-8").linesIterator
      .map(_.trim).filter(_.nonEmpty).flatMap(_.split("=", 2) match {
        case Array(c, v) => Some((c, v))
        case _           => None
      }).toSeq
  }

  /** Every (col, min, max) bound in a data dir's stats sidecar — one
    * `c:lo:hi` line per column (Z-order clustering writes one per
    * cluster key; append/overwrite write at most one). */
  def statsAllOf(tableDir: String, dataDirName: String): Seq[(String, Long, Long)] = {
    sidecarReads.incrementAndGet()
    val f = new File(new File(dataDir(tableDir), dataDirName), ".stats")
    if (!f.exists()) Nil
    else new String(Files.readAllBytes(f.toPath), "UTF-8").linesIterator
      .map(_.trim).filter(_.nonEmpty).flatMap(_.split(":") match {
        case Array(c, lo, hi) => Some((c, lo.toLong, hi.toLong))
        case _                => None
      }).toSeq
  }

  /** First (col, min, max) of the sidecar, if present. */
  def statsOf(tableDir: String, dataDirName: String): Option[(String, Long, Long)] =
    statsAllOf(tableDir, dataDirName).headOption

  /** Every (col, b64min, b64maxOrEmpty) STRING bound in a data dir's
    * `.sstats` sidecar — the string/date analogue of [[statsAllOf]].
    * Bounds are base64 of (possibly truncated) UTF-8 bytes; an empty
    * third field means "unbounded above" (the truncation-overflow
    * case). See [[truncatedStringBounds]]. */
  def sstatsAllOf(tableDir: String, dataDirName: String): Seq[(String, String, String)] = {
    sidecarReads.incrementAndGet()
    val f = new File(new File(dataDir(tableDir), dataDirName), ".sstats")
    if (!f.exists()) Nil
    else new String(Files.readAllBytes(f.toPath), "UTF-8").linesIterator
      .map(_.trim).filter(_.nonEmpty)
      .flatMap(l => TxnCheckpoint.parseSstats(l)).toSeq
  }

  /** How many bytes a string bound keeps — the Delta/Iceberg 32-char
    * truncation, applied to UTF-8 BYTES because Spark orders strings by
    * unsigned byte comparison (UTF8String), not UTF-16 char order. */
  private val sstatsTruncBytes = 32

  /** Truncated (lo, hi) bounds for a dir's observed string [min, max]:
    * the LOWER bound may be any byte prefix (a prefix is ≤ the full
    * value byte-wise), the UPPER bound must DOMINATE every value with
    * the kept prefix — increment the last kept byte, carrying past 0xFF
    * (Iceberg's truncateStringMax); an all-0xFF prefix cannot be
    * incremented → unbounded above (empty string). Returned base64ed,
    * ready for the sidecar/manifest. */
  private[graft] def truncatedStringBounds(min: String, max: String): (String, String) = {
    val (lo, hi) = truncatedBoundsBytes(
      min.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      max.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val b64 = java.util.Base64.getEncoder
    (b64.encodeToString(lo), hi.map(b64.encodeToString).getOrElse(""))
  }

  /** Byte-level core of [[truncatedStringBounds]]. The all-0xFF overflow
    * branch is unreachable for genuine UTF-8 (no UTF-8 byte is 0xFF) but
    * the helper stays total over arbitrary bytes — bounds are opaque. */
  private[graft] def truncatedBoundsBytes(minB: Array[Byte], maxB: Array[Byte])
      : (Array[Byte], Option[Array[Byte]]) = {
    val lo = minB.take(sstatsTruncBytes)
    val hi: Option[Array[Byte]] =
      if (maxB.length <= sstatsTruncBytes) Some(maxB)
      else {
        val p = maxB.take(sstatsTruncBytes)
        // increment with carry: from the last byte, find one below 0xFF
        val i = p.lastIndexWhere(b => (b & 0xFF) < 0xFF)
        if (i < 0) None // every byte is 0xFF: no finite upper bound
        else Some(p.take(i + 1).updated(i, (p(i) + 1).toByte))
      }
    (lo, hi)
  }

  /** Unsigned byte-wise comparison of base64ed bounds — the ordering
    * Spark itself uses for strings. */
  private[graft] def b64Compare(a: String, b: String): Int = {
    val dec = java.util.Base64.getDecoder
    val (x, y) = (dec.decode(a), dec.decode(b))
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  private def b64OfString(s: String): String =
    java.util.Base64.getEncoder.encodeToString(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** The live dirs a STRING range predicate `column ∈ [lo, hi]` can
    * possibly touch, per the manifest's truncated string bounds — the
    * [[pruneLive]] analogue for the predicates real tables filter by
    * most (status/date/category strings). A dir with an empty (overflow)
    * upper bound, or no recorded bound at all, must be planned. Bounds
    * are truncated CONSERVATIVELY (lower bounds shrink, upper bounds
    * grow), so pruning can only keep extra dirs, never drop a match. */
  def pruneLiveString(snap: Snapshot, column: String,
                      lo: String, hi: String): Seq[String] =
    pruneLiveStringBounds(snap, column, Some(lo), Some(hi))

  /** [[pruneLiveString]] with OPEN-ENDED bounds (None = unbounded on
    * that side) — what the DSv2 prune tier needs for one-sided string
    * predicates (`status >= 'N'`, `url < 'https:'`). Same conservative
    * contract: truncated lower bounds only shrink and upper bounds only
    * grow, so a kept-extra dir is possible, a dropped match is not. */
  def pruneLiveStringBounds(snap: Snapshot, column: String,
                            lo: Option[String], hi: Option[String]): Seq[String] = {
    val loB = lo.map(b64OfString)
    val hiB = hi.map(b64OfString)
    snap.live.filter(d =>
      snap.sstats.get(d).flatMap(_.find(_._1 == column)) match {
        case Some((_, dLo, dHi)) =>
          val belowRange = loB.exists(l => dHi.nonEmpty && b64Compare(dHi, l) < 0)
          val aboveRange = hiB.exists(h => b64Compare(dLo, h) > 0)
          !(belowRange || aboveRange)
        case _ => true
      })
  }

  /** Filtered snapshot read with STRING data skipping — [[readRange]]
    * for string/date columns: plans only [[pruneLiveString]]'s dirs,
    * then applies the residual row filter (which also pushes into the
    * parquet scan for row-group pruning). */
  def readRangeString(spark: SparkSession, tableDir: String, column: String,
                      lo: String, hi: String,
                      version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val v = version.orElse(latestVersion(tableDir))
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    val snap = snapshot(tableDir, v)
    val planned = pruneLiveString(snap, column, lo, hi)
    val df =
      if (planned.isEmpty) read(spark, tableDir, Some(v)).limit(0)
      else readDirsDV(spark, tableDir, snap, planned)
    df.filter(df.col(column) >= lit(lo) && df.col(column) <= lit(hi))
  }

  /** Every (col, nullCount) in a data dir's `.nulls` sidecar. */
  def nullsOf(tableDir: String, dataDirName: String): Seq[(String, Long)] = {
    sidecarReads.incrementAndGet()
    val f = new File(new File(dataDir(tableDir), dataDirName), ".nulls")
    if (!f.exists()) Nil
    else new String(Files.readAllBytes(f.toPath), "UTF-8").linesIterator
      .map(_.trim).filter(_.nonEmpty).flatMap(_.split(":") match {
        case Array(c, n) => Some((c, n.toLong))
        case _           => None
      }).toSeq
  }

  /** Single-writer-per-txnId assumption: the idempotency check is
    * check-then-act (findTxn, then publish), so two DISTINCT concurrent
    * writers sharing one txnId can both pass the check before either
    * publishes and land the batch twice. The intended caller is a
    * sequential at-least-once retrier (foreachBatch re-running a failed
    * micro-batch — one writer per txnId at a time), for which the
    * re-check inside the retry loop suffices. Do not share a txnId
    * across concurrently-live writers.
    */
  private def commit(df: DataFrame, tableDir: String, action: String,
                     txnId: Option[String],
                     statsCol: Option[String] = None): Long = {
    // validate BEFORE any side effect (a rejected commit must leave no
    // trace — not even a freshly-minted _schema)
    statsCol.foreach(requireStatsable(df, _))
    dataDir(tableDir).mkdirs(); logDir(tableDir).mkdirs()
    txnId.flatMap(findTxn(tableDir, _)) match {
      case Some(v) => return v // replayed commit — already in the log
      case None    =>
    }
    // GENERATED columns the writer omitted are computed here (Delta's
    // write-time generation), then projected into the table's column
    // order so schema-on-write still compares exactly; a writer that
    // DOES supply the column is validated in [[stage]] instead
    val dfG = {
      val snapG = latestVersion(tableDir).map(v => snapshot(tableDir, v))
      val gens = snapG.map(_.gens).getOrElse(Map.empty[String, String])
        .filter { case (c, _) => !df.columns.contains(c) }
      if (gens.isEmpty) df
      else {
        import org.apache.spark.sql.functions.expr
        val widened = gens.foldLeft(df) { case (acc, (c, e)) =>
          acc.withColumn(c, expr(e))
        }
        snapG.flatMap(_.schema).orElse {
          val f = new File(tableDir, "_schema")
          if (f.exists()) Some(new String(Files.readAllBytes(f.toPath), "UTF-8"))
          else None
        } match {
          case Some(ddl) =>
            val order = structOf(ddl).fieldNames.toSeq
            widened.select(order.filter(widened.columns.contains)
              .map(widened.col): _*)
          case None => widened
        }
      }
    }
    // overwrite may evolve the schema (it replaces all content); append
    // must match it exactly. The overwrite's _schema write is DEFERRED
    // until staging passes — a constraint-rejected overwrite must not
    // leave a mutated _schema behind.
    if (action != "overwrite") enforceSchema(dfG, tableDir)
    // a schema-evolving overwrite on a fids table re-mints: same-named
    // columns keep their ids, new names get fresh ids past the
    // high-water mark (never recycling a dropped id — old files of the
    // dropped column would resolve into the new one)
    val snapPre = latestVersion(tableDir).map(v => snapshot(tableDir, v))
    val owFids: Option[Map[String, Int]] =
      snapPre.map(_.fids).filter(_.nonEmpty).filter(_ => action == "overwrite")
        .map { preFids =>
          var hwm = math.max(snapPre.map(_.fhwm).getOrElse(0), preFids.values.max)
          dfG.schema.fieldNames.map(n =>
            n -> preFids.getOrElse(n, { hwm += 1; hwm })).toMap
        }
    val staged = stage(dfG, tableDir, statsCol, fidsForSidecar = owFids)
    if (action == "overwrite")
      Files.write(new File(tableDir, "_schema").toPath,
        dfG.schema.catalogString.getBytes("UTF-8")): Unit
    // publish with optimistic retry
    var attempt = 0
    while (attempt < 64) {
      txnId.flatMap(findTxn(tableDir, _)) match {
        case Some(v) => return v // lost the race to our own retry twin
        case None    =>
      }
      val base = latestVersion(tableDir)
      val prevSnap =
        if (action == "overwrite") None else base.map(snapshot(tableDir, _))
      val prevLive = prevSnap.map(_.live).getOrElse(Nil)
      val next = base.map(_ + 1L).getOrElse(0L)
      // the first commit and every overwrite record their schema; an
      // append carries its base's forward
      if (tryPublish(tableDir, next, action, prevLive :+ staged, txnId,
          dvs = prevSnap.map(_.dvs).getOrElse(Map.empty),
          schema =
            if (owFids.isDefined) Some(dfG.schema.catalogString)
            else prevSnap.map(_.schema).getOrElse(recordableDdl(dfG.schema)),
          fidsOverride = owFids)) {
        maybeCheckpoint(tableDir, next); return next
      }
      attempt += 1 // conflict: someone else took `next` — rebase and retry
    }
    throw new CommitConflict(s"gave up after $attempt conflicts at $tableDir")
  }

  /** Whether any RETAINED commit carries `txnId` — the migration probe
    * the streaming sink uses to recognize a batch already applied under
    * a LEGACY appId derivation (see [[GraftStreamSink]]). */
  private[sources] def txnApplied(tableDir: String, txnId: String): Boolean =
    latestVersion(tableDir).isDefined && findTxn(tableDir, txnId).isDefined

  /** Version whose manifest carries `txnId`, if any retained one does. */
  private def findTxn(tableDir: String, txnId: String): Option[Long] =
    versions(tableDir).reverseIterator
      .find(v => snapshot(tableDir, v).txnId.contains(txnId))

  /** Atomic put-if-absent of the version-`v` manifest. True = committed;
    * false = the slot was taken (conflict). */
  private def tryPublish(tableDir: String, v: Long, action: String,
                         live: Seq[String], txnId: Option[String],
                         dvs: Map[String, String] = Map.empty,
                         schema: Option[String] = None,
                         constraintsOverride: Option[Map[String, String]] = None,
                         ptransOverride: Option[Option[(String, String)]] = None,
                         eqsOverride: Option[Map[String, (Seq[String], Seq[String])]] = None,
                         gensOverride: Option[Map[String, String]] = None,
                         fidsOverride: Option[Map[String, Int]] = None,
                         schema0Override: Option[Option[String]] = None,
                         fhwmFloor: Int = 0,
                         propsOverride: Option[Map[String, String]] = None,
                         pthistOverride: Option[Map[String, String]] = None,
                         partsRename: Option[(String, String)] = None): Boolean = {
    // CHECK constraints carry forward AUTOMATICALLY from the previous
    // manifest (the publisher at v just read v-1 as its base, so v-1 is
    // retained) — no call site can accidentally drop table-level
    // governance. Only add/dropConstraint override the inherited set.
    // The hidden-partition spec inherits the same way.
    lazy val prev = snapshot(tableDir, v - 1)
    val cons = constraintsOverride.getOrElse(
      if (v == 0) Map.empty[String, String] else prev.constraints)
    val ptrans = ptransOverride.getOrElse(
      if (v == 0) None else prev.ptrans)
    // equality deletes inherit-and-FILTER: each entry's applies-to set
    // intersects the new live set, and emptied entries drop — so a
    // copy-on-write rewrite or compaction (whose content was read
    // THROUGH the eq deletes) materializes them away with zero call-site
    // cooperation, while appends (new dirs never in applies-to) carry
    // them forward untouched
    val eqsKept = eqsOverride.getOrElse(
      if (v == 0) Map.empty[String, (Seq[String], Seq[String])] else prev.eqs)
      .map { case (e, (cols, applies)) => e -> ((cols, applies.filter(live.contains))) }
      .filter(_._2._2.nonEmpty)
    // generated-column specs inherit like constraints
    val gens = gensOverride.getOrElse(
      if (v == 0) Map.empty[String, String] else prev.gens)
    // table properties inherit like constraints: only set/unsetProperties
    // (and clone's import) override the carried map
    val props = propsOverride.getOrElse(
      if (v == 0) Map.empty[String, String] else prev.props)
    // field ids + the minting-era DDL inherit like schema
    val fids = fidsOverride.getOrElse(
      if (v == 0) Map.empty[String, Int] else prev.fids)
    val schema0 = schema0Override.getOrElse(
      if (v == 0) None else prev.schema0)
    // spec history: strictly accumulative — the current spec always
    // joins it, past specs are never dropped (their dirs may live on).
    // A rename commit overrides the whole map (every era's expr
    // rewritten to the new column name, so era pruning keeps working).
    val pthist = pthistOverride.getOrElse(
      if (v == 0) Map.empty[String, String] else prev.pthist) ++ ptrans
    // only dv entries for dirs actually in this manifest's live set —
    // a rewritten dir's dv dies with it (the rewrite materialized it)
    val dvKept = dvs.filter { case (d, _) => live.contains(d) }

    // ------ per-dir state (maps first, serialization second) ------
    // fold each live dir's sidecar bounds into the manifest: the
    // sidecar is the write-time source of truth (local to the dir the
    // writer just staged or inherited), the manifest copy is what the
    // READ path plans from — one fetch, no per-dir GETs.
    //
    // WRITE-path scaling (round 12): data dirs are IMMUTABLE, so a
    // dir that was live in the PREVIOUS manifest already has its
    // sidecar content folded there — SURVIVORS copy their entries
    // from the prev manifest and never touch their sidecars again
    // (absence in prev is equally authoritative: a statless dir is
    // not re-probed every commit). Only NEWLY-STAGED dirs read
    // sidecars, so a commit on a 10,000-dir table costs O(new dirs)
    // sidecar GETs, not O(live) — the same reason Delta folds
    // add-file stats into log entries instead of re-stat-ing files.
    val prevLiveSet: Set[String] = if (v == 0) Set.empty else prev.live.toSet
    // on a fids (evolved) table a dir's stat sidecars are PHYSICAL
    // (write-time names): resolve each recorded name through the dir's
    // era field ids to the CURRENT column of the same id — a renamed
    // column's stat folds under its new name (pruning/NDV recovered),
    // and a drop+re-add of the same name drops the stale entry instead
    // of letting IS NULL prune dirs whose re-added column is entirely
    // null-backfilled (silent row loss)
    lazy val idToCur: Map[Int, String] = fids.map(_.swap)
    def eraIds(d: String): Map[String, Int] = colsOf(tableDir, d) match {
      case Some((ddl, ids)) => structOf(ddl).fieldNames.zip(ids).toMap
      case None => schema0.map(ddl => structOf(ddl).fieldNames.zipWithIndex
        .map { case (n, i) => n -> (i + 1) }.toMap).getOrElse(Map.empty)
    }
    def resolveEra(d: String, c: String): Option[String] =
      if (fids.isEmpty) Some(c) else eraIds(d).get(c).flatMap(idToCur.get)
    // stats/nulls/kmvs/sstats manifest entries are stored under CURRENT
    // column names, so the prev-manifest copy is valid only while the
    // id mapping is unchanged — an EVOLUTION commit (rename/drop/mint)
    // re-folds every dir through era resolution instead (rare by
    // construction; the frequent ops all take the O(new-dirs) path)
    val evoUnchanged = v > 0 && fids == prev.fids && schema0 == prev.schema0
    // upgrade refold: a PRE-round-12 manifest has no nulls/kmvs keys at
    // all, so "absent in prev" is NOT authoritative for its survivors —
    // carrying absence would permanently drop stat folding for every
    // pre-upgrade dir (the scan's manifestCovers check then falls back
    // to per-dir sidecar reads forever). When the previous manifest
    // LACKS the stat keys (prev.statKeys = false), refold survivors
    // from sidecars once, mirroring the evolution-commit refold branch.
    // New manifests always EMIT the keys (even empty), so the refold is
    // strictly one-shot: the next commit sees statKeys = true and takes
    // the O(new-dirs) carry again.
    val statUpgrade = v > 0 && !prev.statKeys
    // stats/sstats entries fold under CURRENT column names — stale on
    // an evolution commit (a rename would strand them under the old
    // name, silently forfeiting range pruning on the renamed column),
    // so evolution commits refold every dir's sidecar through era
    // resolution exactly like nulls/kmvs below (round 15; rare by
    // construction — the frequent ops all take the O(new-dirs) carry)
    val statsMap: Map[String, Seq[(String, Long, Long)]] = live.flatMap { d =>
      val all =
        if (evoUnchanged && prevLiveSet.contains(d)) prev.stats.getOrElse(d, Nil)
        else statsAllOf(tableDir, d)
          .flatMap { case (c, lo, hi) => resolveEra(d, c).map((_, lo, hi)) }
      if (all.isEmpty) None else Some(d -> all)
    }.toMap
    val sstatsMap: Map[String, Seq[(String, String, String)]] = live.flatMap { d =>
      val all =
        if (evoUnchanged && prevLiveSet.contains(d)) prev.sstats.getOrElse(d, Nil)
        else sstatsAllOf(tableDir, d)
          .flatMap { case (c, lo, hi) => resolveEra(d, c).map((_, lo, hi)) }
      if (all.isEmpty) None else Some(d -> all)
    }.toMap
    // full ordered partition vectors (multi-col specs, round 13):
    // survivors carry from prev (partsN holds multis, parts the
    // singles), new dirs read their .part sidecar's every line
    def prevVec(d: String): Option[Seq[(String, String)]] =
      prev.partsN.get(d).orElse(prev.parts.get(d).map(Seq(_)))
    val partsVecMap0: Map[String, Seq[(String, String)]] = live.flatMap { d =>
      (if (prevLiveSet.contains(d)) prevVec(d)
       else Some(mpartOf(tableDir, d)).filter(_.nonEmpty)).map(d -> _)
    }.toMap
    // a RENAME commit rewrites partition-column names in the manifest
    // map (dirs' `.part` sidecars are immutable and never re-read for
    // survivors — the manifest copy is the read path's truth, and every
    // later commit carries THIS rewritten map forward)
    val partsVecMap: Map[String, Seq[(String, String)]] = partsRename match {
      case Some((o, n)) => partsVecMap0.map { case (d, vec) =>
        d -> vec.map { case (c, pv) => (if (c == o) n else c, pv) } }
      case None => partsVecMap0
    }
    // dv dirs' counts ride along (names are disjoint from live):
    // history's effective row count = live rows - dv-deleted rows,
    // still metadata-only. dv dirs are not in prev.live, so they
    // carry through prev.nrows with a sidecar fallback.
    val nrowsMap: Map[String, Long] =
      (live ++ dvKept.values.toSeq.distinct).flatMap { d =>
        (if (prevLiveSet.contains(d)) prev.nrows.get(d)
         else if (v > 0 && prev.nrows.contains(d)) prev.nrows.get(d)
         else nrowsOf(tableDir, d)).map(d -> _)
      }.toMap
    val nullsMap: Map[String, Seq[(String, Long)]] = live.flatMap { d =>
      val all =
        (if (evoUnchanged && !statUpgrade && prevLiveSet.contains(d))
           prev.nulls.getOrElse(d, Nil)
         else nullsOf(tableDir, d)
           .flatMap { case (c, n) => resolveEra(d, c).map(_ -> n) })
      if (all.isEmpty) None else Some(d -> all)
    }.toMap
    // fold each live dir's `.kmv` NDV sketch into the manifest (64
    // longs per sketched dir — KB-scale, the Delta-checkpoint
    // stats-inlining trade): the DSv2 column-statistics path then
    // serves CBO from the ONE manifest fetch it already paid, with
    // zero per-dir sidecar reads at thousand-dir scale
    val kmvsMap: Map[String, (String, Seq[Long])] = live.flatMap { d =>
      (if (evoUnchanged && !statUpgrade && prevLiveSet.contains(d)) prev.kmvs.get(d)
       else kmvOf(tableDir, d).flatMap { case (c, hs) =>
         resolveEra(d, c).map(cur => (cur, hs.toSeq))
       }).map(d -> _)
    }.toMap
    // id high-water mark: monotone across drops so ids never recycle
    // (fhwmFloor imports a clone source's mark at v0)
    val fhwm = math.max(fhwmFloor, math.max(if (v == 0) 0 else prev.fhwm,
      if (fids.isEmpty) 0 else fids.values.max))
    val now = System.currentTimeMillis

    // ------ INCREMENTAL-vs-SELF-CONTAINED decision (round 13) ------
    // A self-contained manifest re-lists every live dir with its folded
    // stats — O(live dirs) bytes PER COMMIT, the last O(table) commit
    // term on wide tables. Past a dir-count threshold, publish only the
    // DELTA (add/rm dirs + their stat entries; table-wide metadata
    // stays full — it is O(columns)), anchored on a columnar dir-entry
    // checkpoint ([[TxnCheckpoint]]) that a writer materializes every
    // [[checkpointInterval]] commits. Rare shapes that rewrite per-dir
    // entries in place (evolution refolds, stat upgrades, equality
    // deletes, a live order no prefix-preserving delta can express)
    // fall back to self-contained manifests — correctness never depends
    // on the delta form.
    val ckptThreshold: Int = ckptThresholdFor(tableDir, props)
    val liveSet = live.toSet
    val addDirs = if (v == 0) live else live.filterNot(prevLiveSet)
    val orderPreserved =
      v > 0 && (prev.live.filter(liveSet) ++ addDirs) == live
    val baseV: Option[Long] =
      if (v == 0 || live.size < ckptThreshold || !evoUnchanged || statUpgrade ||
          !orderPreserved) None
      else prev.base match {
        case None => Some(v - 1) // prev manifest is self-contained = anchor
        case Some(pb) =>
          // newest materialized checkpoint in (pb, v-1]; pb itself roots
          // a chain ending at a real anchor even if its ckpt never landed
          Some((pb to (v - 1)).reverse.find(TxnCheckpoint.exists(tableDir, _))
            .getOrElse(pb))
      }

    // ------ serialization ------
    def obj(key: String, entries: Iterable[String], alwaysEmit: Boolean = false): String =
      if (entries.isEmpty && !alwaysEmit) ""
      else entries.mkString(s""","$key":{""", ",", "}")
    def arr(key: String, xs: Seq[String]): String =
      s""","$key":${xs.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    def statsE(m: Map[String, Seq[(String, Long, Long)]], ds: Seq[String]) =
      ds.flatMap(d => m.get(d).map(x => s""""$d":"${TxnCheckpoint.fmtStats(x)}""""))
    def partsE(m: Map[String, Seq[(String, String)]], ds: Seq[String]) =
      ds.flatMap(d => m.get(d).map(v => s""""$d":"${TxnCheckpoint.fmtParts(v)}""""))
    def nrowsE(m: Map[String, Long], ds: Seq[String]) =
      ds.flatMap(d => m.get(d).map(n => s""""$d":$n"""))
    def nullsE(m: Map[String, Seq[(String, Long)]], ds: Seq[String]) =
      ds.flatMap(d => m.get(d).map(x => s""""$d":"${TxnCheckpoint.fmtNulls(x)}""""))
    def kmvsE(m: Map[String, (String, Seq[Long])], ds: Seq[String]) =
      ds.flatMap(d => m.get(d).map(x => s""""$d":"${TxnCheckpoint.fmtKmv(x)}""""))
    def sstatsE(m: Map[String, Seq[(String, String, String)]], ds: Seq[String]) =
      ds.flatMap(d => m.get(d).map(x => s""""$d":"${TxnCheckpoint.fmtSstats(x)}""""))
    val txn = txnId.map(t => s""","txnId":"$t"""").getOrElse("")
    // evolved-schema DDL rides in the manifest itself (atomic with
    // the commit) and is carried forward by every later commit —
    // catalogString never contains '"', so the flat field is safe
    val tableWideJson = {
      val schemaJson = schema.map(s => s""","schema":"$s"""").getOrElse("")
      val consJson = obj("constraints",
        cons.map { case (n, e) => s""""$n":"$e"""" })
      val ptransJson = ptrans
        .map { case (a, e) => s""","pta":"$a","pte":"$e"""" }.getOrElse("")
      val pthJson = obj("pth",
        pthist.toSeq.sortBy(_._1).map { case (a, e) => s""""$a":"$e"""" })
      val gensJson = obj("gens", gens.map { case (n, e) => s""""$n":"$e"""" })
      val fidsJson = obj("fids",
        fids.toSeq.sortBy(_._2).map { case (n, i) => s""""$n":$i""" })
      val schema0Json = schema0.map(s => s""","schema0":"$s"""").getOrElse("")
      val fhwmJson = if (fhwm > 0) s""","fhwm":$fhwm""" else ""
      val propsJson = obj("props",
        props.toSeq.sortBy(_._1).map { case (k, pv) => s""""$k":"$pv"""" })
      // required READER features (round 15), auto-derived from what this
      // manifest actually carries — a reader missing one would misread
      // (resurrect dv'd/eq'd rows, see an incremental's live as empty,
      // resolve renamed columns wrong). A manifest using none emits no
      // `rf` at all, so plain tables stay readable by any legacy reader.
      val rf = (if (dvKept.nonEmpty) Seq("dv") else Nil) ++
        (if (eqsKept.nonEmpty) Seq("eq") else Nil) ++
        (if (baseV.isDefined) Seq("inc") else Nil) ++
        (if (fids.nonEmpty) Seq("fids") else Nil)
      val rfJson = if (rf.isEmpty) "" else s""","rf":"${rf.mkString(",")}""""
      s"$schemaJson$consJson$ptransJson$pthJson$gensJson$fidsJson$schema0Json$fhwmJson$propsJson$rfJson"
    }
    val json = baseV match {
      case None =>
        val eqsJson = obj("eqs", eqsKept.map { case (e, (cols, ds)) =>
          s""""$e":"${cols.mkString(",")}|${ds.mkString(",")}""""
        })
        val nrowsKeys = (live ++ dvKept.values.toSeq.distinct).distinct
        s"""{"version":$v,"action":"$action","ts":$now,""" +
          s""""live":${live.map("\"" + _ + "\"").mkString("[", ",", "]")}""" +
          txn + obj("stats", statsE(statsMap, live)) +
          obj("parts", partsE(partsVecMap, live)) +
          obj("nrows", nrowsE(nrowsMap, nrowsKeys)) +
          obj("dvs", dvKept.map { case (d, dv) => s""""$d":"$dv"""" }) +
          tableWideJson + eqsJson +
          obj("sstats", sstatsE(sstatsMap, live)) +
          obj("nulls", nullsE(nullsMap, live), alwaysEmit = true) +
          obj("kmvs", kmvsE(kmvsMap, live), alwaysEmit = true) + "}"
      case Some(b) =>
        val rmDirs = prev.live.filterNot(liveSet)
        // dv delta: entries that changed vs prev; removals that are NOT
        // implied by a dir leaving the live set
        val dvAdd = dvKept.filter { case (d, x) => !prev.dvs.get(d).contains(x) }
        val dvRm = prev.dvs.keysIterator
          .filter(d => liveSet(d) && !dvKept.contains(d)).toSeq.sorted
        val newDvDirs = (dvAdd.values.toSet -- prev.nrows.keySet).toSeq.sorted
        // equality-delete DELTA (round 14): an entry rides in `eqadd`
        // only when new or changed (its applies-set shrank via the live
        // filter), dropped keys in `eqrm` — appends while eq debt is
        // outstanding emit NEITHER, keeping commits O(new dirs)
        val eqAdd = eqsKept.filter { case (e, x) => !prev.eqs.get(e).contains(x) }
        val eqRm = prev.eqs.keysIterator.filterNot(eqsKept.contains).toSeq.sorted
        s"""{"version":$v,"action":"$action","ts":$now,"base":$b""" +
          txn + arr("add", addDirs) + arr("rm", rmDirs) +
          obj("stats", statsE(statsMap, addDirs)) +
          obj("parts", partsE(partsVecMap, addDirs)) +
          obj("nrows", nrowsE(nrowsMap, addDirs ++ newDvDirs)) +
          obj("dvs", dvAdd.map { case (d, dv) => s""""$d":"$dv"""" }) +
          (if (dvRm.isEmpty) "" else arr("rmdvs", dvRm)) +
          tableWideJson +
          obj("eqadd", eqAdd.map { case (e, (cols, ds)) =>
            s""""$e":"${cols.mkString(",")}|${ds.mkString(",")}""""
          }) +
          (if (eqRm.isEmpty) "" else arr("eqrm", eqRm)) +
          obj("sstats", sstatsE(sstatsMap, addDirs)) +
          obj("nulls", nullsE(nullsMap, addDirs)) +
          obj("kmvs", kmvsE(kmvsMap, addDirs)) + "}"
    }
    // the COMMIT: atomic put-if-absent of the version slot, through the
    // pluggable LogStore seam (POSIX hard-link EEXIST locally; a
    // conditional PUT on an object store)
    if (store(tableDir).putIfAbsent(manifestFile(tableDir, v), encodeManifest(json))) {
      // first checksummed commit records the integrity floor (once per
      // table — an in-JVM latch keeps this off the steady-state path)
      ensureIntegrityFloor(tableDir, v)
      // the winner's in-hand state IS version v's snapshot — cache it so
      // the next sequential commit/read never re-derives it, and
      // materialize the columnar dir-entry checkpoint once the delta
      // chain reaches the interval (write failures self-heal: the next
      // commit still sees v - base >= interval and retries)
      val committed = Snapshot(v, action, live, txnId, statsMap,
        partsVecMap.map { case (d, vec) => d -> vec.head },
        now, nrowsMap, dvKept, schema, cons, ptrans, eqsKept, gens, fids,
        schema0, fhwm, nullsMap, pthist, kmvsMap, statKeys = true, base = baseV,
        sstats = sstatsMap, partsN = partsVecMap.filter(_._2.size > 1),
        props = props)
      cachePut(tableDir, committed)
      // offload mode defers this to the [[checkpoint]] maintenance call,
      // keeping every committer's latency flat at high dir counts
      if (!ckptOffload(tableDir, props) && baseV.exists(b => v - b >= checkpointInterval))
        TxnCheckpoint.write(tableDir, v, TxnCheckpoint.DirState(
          live, statsMap, partsVecMap, nrowsMap, dvKept, nullsMap, kmvsMap,
          sstatsMap, eqsKept))
      true
    } else false
  }

  // ---- logical conflict re-check (round 15) ----
  // Row-level DML and maintenance are read-modify-write: their output
  // is a function of ONE base snapshot, so a publish can only land at
  // base+1 — blindly rebasing onto a newer head (the append path's
  // retry) would silently drop the winners' effects. Through round 14
  // that meant ANY concurrent winner threw [[CommitConflict]] and the
  // caller re-ran the whole op — under steady append traffic (the
  // streaming sink commits every few seconds) a 10-minute MERGE or
  // OPTIMIZE could starve forever, re-staging its full write set each
  // retry. The fix is the Delta-ConflictChecker idea re-derived over
  // manifests: on a taken slot, re-read the head snapshot and PROVE,
  // structurally, that every winner in (base, head] left the loser's
  // logical read set untouched — then the loser's already-staged dirs
  // republish on the new base without re-running anything. The proof
  // obligations, checked base-vs-head (winners compose):
  //   1. table-wide metadata unchanged — schema, constraints, generated
  //      columns, field ids, hidden-partition spec (a schema winner
  //      invalidates the staged rewrite bytes themselves);
  //   2. every dir the op READ is still live with an identical deletion
  //      vector and identical applied equality deletes (a winner that
  //      rewrote, dv'd, or eq-deleted into a read dir changed content
  //      the op's output was computed from — the round-8 compaction
  //      lost-update shape, still a hard conflict);
  //   3. winner-ADDED dirs are judged by the op's own semantics
  //      ([[WinnerAddCheck]]): content-preserving maintenance ignores
  //      them (they survive the rebase untouched); keyed DML accepts
  //      them only when manifest key stats PROVE they hold no matchable
  //      row; arbitrary-predicate DML can prove nothing and conflicts.
  // The rebased history stays serializable in commit order: winners
  // applied their deltas to states without the loser, and the loser's
  // matched-row set is provably identical at base and head.

  /** How [[publishRebasing]] judges dirs a concurrent winner ADDED. */
  sealed private trait WinnerAddCheck
  /** Content-preserving maintenance (compaction): winner-added dirs
    * simply survive the rebase — the op claims nothing about them. */
  private case object AddsIgnored extends WinnerAddCheck
  /** Arbitrary-predicate DML: nothing can prove a winner-added dir
    * holds no matching row — any added dir is a conflict. */
  private case object AddsUnprovable extends WinnerAddCheck
  /** Keyed DML whose matched rows all lie in `col` ∈ [lo, hi]: a
    * winner-added dir is acceptable iff its manifest stats PROVE its
    * key range disjoint (missing stats = unprovable = conflict). */
  private final case class AddsKeyDisjoint(col: String, lo: Long, hi: Long)
    extends WinnerAddCheck

  /** Equality-delete state restricted to `dirs`: the set of
    * (eq-dir, key-cols, applied-dir) triples touching any of them. */
  private def eqStateOn(sn: Snapshot, dirs: Set[String]): Set[(String, String, String)] =
    sn.eqs.toSeq.flatMap { case (e, (cols, ds)) =>
      ds.filter(dirs.contains).map(d => (e, cols.mkString(","), d))
    }.toSet

  /** Throw a reasoned [[CommitConflict]] unless every winner between
    * `s0` (the op's base) and `h` (the current head) is rebasable past,
    * per the proof obligations above. */
  private def requireRebasable(s0: Snapshot, h: Snapshot,
                               readDirs: Set[String],
                               addCheck: WinnerAddCheck): Unit = {
    def fail(why: String): Nothing = throw new CommitConflict(
      s"concurrent commit(s) through version ${h.version} cannot be " +
        s"rebased past ($why); re-read and retry the operation")
    if (h.schema != s0.schema || h.schema0 != s0.schema0 ||
        h.fids != s0.fids || h.constraints != s0.constraints ||
        h.gens != s0.gens || h.ptrans != s0.ptrans)
      fail("table metadata changed: schema/constraints/generated/spec")
    val hLive = h.live.toSet
    readDirs.find(!hLive.contains(_)).foreach(d =>
      fail(s"dir $d this operation read was rewritten or removed"))
    readDirs.find(d => h.dvs.get(d) != s0.dvs.get(d)).foreach(d =>
      fail(s"deletion vector changed on read dir $d"))
    if (eqStateOn(h, readDirs) != eqStateOn(s0, readDirs))
      fail("equality-delete state changed on a read dir")
    lazy val added = h.live.filterNot(s0.live.toSet)
    addCheck match {
      case AddsIgnored => ()
      case AddsUnprovable =>
        if (added.nonEmpty) fail(
          s"winner added dir(s) ${added.take(3).mkString(", ")} and this " +
            "operation's predicate cannot prove them unmatched")
      case AddsKeyDisjoint(col, lo, hi) =>
        added.find { d =>
          !h.stats.get(d).flatMap(_.find(_._1 == col))
            .exists { case (_, dLo, dHi) => dHi < lo || dLo > hi }
        }.foreach(d => fail(
          s"winner-added dir $d may hold rows with $col in [$lo, $hi] " +
            "(no disjoint manifest stats)"))
    }
  }

  /** Publish a read-modify-write op's outcome — expressed as a DELTA
    * against the base snapshot it read (`removed` dirs dropped from
    * live, `added` staged dirs appended, `dvUpdates` per-dir deletion
    * vectors, `eqAdd` a new equality-delete entry) — rebasing past
    * provably-disjoint winners instead of throwing (see the section
    * note). Staged data is written ONCE by the caller; only the
    * manifest recomputes per attempt. Winner state (their added dirs,
    * their dvs on unread dirs, their eq entries) carries through the
    * head snapshot into the rebased manifest untouched; the loser's dv
    * targets and eq applies-sets are all read dirs, which obligation 2
    * pins byte-identical, so composing them onto the head is exact. */
  private def publishRebasing(tableDir: String, snap0: Snapshot,
                              action: String, removed: Set[String],
                              added: Seq[String], readDirs: Set[String],
                              addCheck: WinnerAddCheck,
                              txnId: Option[String],
                              dvUpdates: Map[String, String] = Map.empty,
                              eqAdd: Option[(String, (Seq[String], Seq[String]))] = None,
                              propsSet: Map[String, String] = Map.empty,
                              propsUnset: Set[String] = Set.empty): Long = {
    var cur = snap0
    var attempt = 0
    while (attempt < 64) {
      txnId.flatMap(findTxn(tableDir, _)) match {
        case Some(v) => return v // lost the race to our own retry twin
        case None    =>
      }
      val v = cur.version + 1
      if (tryPublish(tableDir, v, action, cur.live.filterNot(removed) ++ added,
          txnId, dvs = cur.dvs ++ dvUpdates, schema = cur.schema,
          eqsOverride = eqAdd.map(cur.eqs + _),
          propsOverride =
            if (propsSet.isEmpty && propsUnset.isEmpty) None
            else Some(cur.props -- propsUnset ++ propsSet))) {
        maybeCheckpoint(tableDir, v)
        return v
      }
      // slot taken: find the new head and decide whether every winner
      // in (cur.version, head] is rebasable past — base-vs-head checks
      // compose across multiple winners, so only the head is re-read
      val head = latestVersion(tableDir).getOrElse(
        throw new CommitConflict(s"commit log vanished under $tableDir"))
      if (head < v) throw new CommitConflict(
        s"version $v at $tableDir lost its slot to an unobservable winner")
      val hSnap = snapshot(tableDir, head)
      requireRebasable(snap0, hSnap, readDirs, addCheck)
      cur = hSnap
      attempt += 1
    }
    throw new CommitConflict(s"gave up after $attempt conflicts at $tableDir")
  }

  // ---- DML: one matched-row planner, two writers ---------------------------
  // Every DML verb is a MATCH (a key batch, an integral range or a
  // predicate) handed to a WRITER. [[planDml]] turns the match into the
  // live dirs that may hold a matched row (manifest-stats pruned), the
  // [[WinnerAddCheck]] a rebasing publish judges winner-added dirs by, and
  // the stats column a staged dir records. Two writers then commit it, the
  // two designs of Delta Lake (Armbrust et al., VLDB 2020):
  //  - copy-on-write ([[writeCopyOnWrite]]): the touched dirs are read
  //    through their dvs and equality deletes, rewritten, and replaced by
  //    one staged dir (none when the rewrite is empty);
  //  - deletion vectors ([[writeDeletionVectors]]): matched positions go to
  //    per-dir `dv-*` sidecars, the live set is unchanged, and any new rows
  //    (an UPDATE's rewritten rows, an upsert's batch) append as one dir.
  // [[deleteKeysEq]] records the keys themselves (Iceberg equality
  // deletes). Every writer publishes once at base+1 via [[publishRebasing]],
  // so txnId replay, [[CommitConflict]] and CDC behave alike for all verbs.

  /** What a DML verb matches. NULL never matches (SQL semantics). */
  sealed private trait DmlMatch {
    /** The rows of `df` this match selects. */
    def rows(df: DataFrame): DataFrame
  }
  /** Rows whose `keyCols` tuple appears in `keys`. An `upsert` batch is a
    * full-row source: it must match the table schema and be key-unique,
    * which [[planDml]] checks unless `uniqueInWrite` (the writer's rewrite
    * checks it). Otherwise `keys` holds key columns only, typed as in the
    * table. `prune = false` plans every live dir. */
  private final case class ByKeys(keys: DataFrame, keyCols: Seq[String],
                                  upsert: Boolean, prune: Boolean = true,
                                  uniqueInWrite: Boolean = false)
    extends DmlMatch {
    def rows(df: DataFrame): DataFrame = {
      import org.apache.spark.sql.functions.broadcast
      // broadcast: the merge-on-read premise is a small batch against big files
      df.join(broadcast(keys.select(keyCols.map(keys.col): _*).distinct()),
        keyCols, "left_semi")
    }
  }
  /** A match that is a row-level condition: `cond` is never NULL. */
  sealed private trait RowMatch extends DmlMatch {
    def cond: Column
    def rows(df: DataFrame): DataFrame = df.filter(cond)
  }
  /** Rows whose integral `column` lies in [lo, hi]. */
  private final case class ByRange(column: String, lo: Long, hi: Long) extends RowMatch {
    def cond: Column = {
      import org.apache.spark.sql.functions.{coalesce, col, lit}
      coalesce(col(column).between(lo, hi), lit(false))
    }
  }
  /** Rows where `predicate` is TRUE. No bounds follow from an opaque
    * Column, so every live dir is planned. */
  private final case class ByPredicate(predicate: Column) extends RowMatch {
    def cond: Column = {
      import org.apache.spark.sql.functions.{coalesce, lit}
      coalesce(predicate, lit(false))
    }
  }

  /** A planned DML verb: its base snapshot, the live dirs that may hold a
    * matched row, how a rebasing publish judges winner-added dirs, and the
    * stats column staged dirs record. */
  private final class DmlPlan(spark: SparkSession, tableDir: String,
                              val snap: Snapshot, val touched: Seq[String],
                              val addCheck: WinnerAddCheck,
                              val statsCol: Option[String]) {
    /** The touched dirs read THROUGH dvs and equality deletes, so a
      * deleted row cannot resurrect; None when nothing is touched. */
    lazy val read: Option[DataFrame] =
      if (touched.isEmpty) None else Some(readDirsDV(spark, tableDir, snap, touched))
  }

  /** The key-unique-source precondition of the upserts: duplicate source
    * key tuples would fan matched target rows out through the join and
    * commit duplicated data silently. Delta rejects with "multiple source
    * rows matched"; so do we, with this message naming the key tuple
    * (`tuple` is `c=value, ...`). NULL-containing tuples are exempt: they
    * never match a target row (SQL join semantics), so they cannot fan
    * anything out. */
  private def duplicateKeyMessage(verb: String, tuple: String): String =
    s"$verb: $duplicateKey ($tuple) — the source must be key-unique; dedup upstream"
  private val duplicateKey = "multiple source rows matched the same key"

  /** ONE aggregate over an upsert batch, before any staging: it rejects a
    * duplicate non-NULL key tuple ([[duplicateKeyMessage]]) and, with
    * `bounds`, returns the [min, max] of the integral first key over the
    * tuples that can match (None when none can). The batch is read by one
    * task (the upsert premise is a small batch against big files), so the
    * per-key count and the global aggregate over it need no exchange: one
    * job. */
  private def checkUpsertKeys(keys: DataFrame, keyCols: Seq[String], verb: String,
                              bounds: Boolean): Option[(Long, Long)] = {
    import org.apache.spark.sql.functions.{col, count, first, lit, max, min, struct, when}
    val k = col(keyCols.head).cast("long")
    val aggs = first(when(col("_n") > 1L, struct(keyCols.map(col): _*)), ignoreNulls = true) +:
      (if (bounds) Seq(min(k), max(k)) else Nil)
    val r = keys.filter(keyCols.map(col(_).isNotNull).reduce(_ && _)).coalesce(1)
      .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("_n"))
      .agg(aggs.head, aggs.tail: _*).head()
    if (!r.isNullAt(0)) {
      val dup = r.getStruct(0)
      throw new IllegalArgumentException(duplicateKeyMessage(verb,
        keyCols.indices.map(i => s"${keyCols(i)}=${dup.get(i)}").mkString(", ")))
    }
    if (!bounds || r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2)))
  }

  /** The one DML planner: replay a committed `txnId`, pin the base, check
    * the match's columns, and plan it ([[DmlPlan]]) for `write`.
    *  - keys: manifest-stats pruning by the batch keys' [min, max] (ONE
    *    aggregate over the batch, which also checks an upsert batch is
    *    key-unique: [[checkUpsertKeys]]), only for an integral first key —
    *    a non-integral key's long-cast bounds are not sound (see
    *    [[isIntegral]]). The bounds double as the proof that a
    *    winner-added dir holds no matched row. A batch with no non-NULL
    *    key matches nothing and touches no dir.
    *  - range: [[pruneLive]] by [lo, hi]; the column is checked against
    *    the EFFECTIVE schema before pruning, so a bad column throws even
    *    when no dir overlaps (a pre-evolution dir lacks added columns, so
    *    no one dir's footer will do). Only a table that records no schema
    *    checks its read frame.
    *  - predicate: every live dir, and no winner-added dir is provable. */
  private def planDml(spark: SparkSession, tableDir: String, verb: String,
                      m: DmlMatch, txnId: Option[String])(write: DmlPlan => Long): Long = {
    import org.apache.spark.sql.functions.{col, max, min}
    m match {
      case k: ByKeys => require(k.keyCols.nonEmpty, s"$verb needs key columns")
      case _         => ()
    }
    txnId.flatMap(findTxn(tableDir, _)) match {
      case Some(v) => return v // replayed — already committed
      case None    =>
    }
    val snap = snapshot(tableDir, latestVersion(tableDir)
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir")))
    def plan(touched: Seq[String], check: WinnerAddCheck, statsCol: Option[String]) =
      new DmlPlan(spark, tableDir, snap, touched, check, statsCol)
    write(m match {
      case ByKeys(keys, keyCols, upsert, prune, uniqueInWrite) =>
        // AFTER the base is pinned: the first evaluation of the caller's
        // batch happens once the snapshot is fixed (callers may sequence
        // side effects on it; the conflict test relies on this)
        if (upsert) enforceSchema(keys, tableDir) // upserts cannot drift the schema
        else effectiveSchema(tableDir, snap).foreach { st =>
          // a mistyped anti-join would silently delete nothing
          keyCols.foreach { c =>
            require(st.fieldNames.contains(c), s"no column $c in the table schema")
            require(st(c).dataType == keys.schema(c).dataType,
              s"key column $c is ${keys.schema(c).dataType.sql}, table has ${st(c).dataType.sql}")
          }
        }
        val key = keyCols.head
        val hasStats = prune && isIntegral(keys, key) &&
          snap.live.exists(d => snap.stats.get(d).exists(_.exists(_._1 == key)))
        val bounds =
          if (upsert && !uniqueInWrite) checkUpsertKeys(keys, keyCols, verb, hasStats)
          else if (!hasStats) None
          else {
            val r = keys.agg(min(col(key).cast("long")), max(col(key).cast("long"))).head()
            if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
          }
        bounds match {
          case Some((lo, hi)) => plan(pruneLive(snap, key, lo, hi), AddsKeyDisjoint(key, lo, hi), Some(key))
          case None if hasStats => plan(Nil, AddsIgnored, Some(key)) // only NULL keys
          case None => plan(snap.live, AddsUnprovable, None)
        }
      case ByRange(c, lo, hi) =>
        val p = plan(pruneLive(snap, c, lo, hi), AddsKeyDisjoint(c, lo, hi), Some(c))
        effectiveSchema(tableDir, snap).orElse(p.read.map(_.schema)).foreach { st =>
          require(st.fieldNames.contains(c), s"no column $c")
          require(isIntegralType(st(c).dataType),
            s"$verb column $c must be an integral type; use ${verb.replace("Range", "Where")}")
        }
        p
      case ByPredicate(_) => plan(snap.live, AddsUnprovable, None)
    })
  }

  /** The copy-on-write writer: `out` (a rewrite of the plan's touched
    * dirs) lands as one staged dir, none when it is empty, and the touched
    * dirs drop from live. Kept dirs and their dvs carry through whatever
    * head the publish lands on. */
  private def writeCopyOnWrite(tableDir: String, p: DmlPlan, action: String,
                               txnId: Option[String], out: Option[DataFrame]): Long =
    publishRebasing(tableDir, p.snap, action, p.touched.toSet,
      out.flatMap(stageNonEmpty(_, tableDir, p.statsCol)).toSeq, p.touched.toSet,
      p.addCheck, txnId)

  /** The deletion-vector writer: each touched dir's rows matched by `m`
    * get their positions recorded in a cumulative dv ([[stageDV]]), and
    * `appended` lands as one staged dir (none when empty). The live set
    * keeps every dir. Positions are matched on the RAW dir — an already
    * dv'd row re-matching is harmless, the dv union dedups. */
  private def writeDeletionVectors(spark: SparkSession, tableDir: String, p: DmlPlan,
                                   m: DmlMatch, action: String, txnId: Option[String],
                                   appended: Option[DataFrame]): Long = {
    val added = appended.flatMap(stageNonEmpty(_, tableDir, p.statsCol)).toSeq
    val dvs = p.touched.flatMap(d => stageDV(spark, tableDir, p.snap, d, m).map(d -> _)).toMap
    publishRebasing(tableDir, p.snap, action, Set.empty, added, p.touched.toSet,
      p.addCheck, txnId, dvUpdates = dvs)
  }

  /** DELETE (`set` = None) or UPDATE ... SET of the rows `m` matches,
    * by copy-on-write or by deletion vectors (`dv`). An update's rewritten
    * rows are the matched rows through [[applySet]]. */
  private def dmlRows(spark: SparkSession, tableDir: String, verb: String, m: RowMatch,
                      set: Option[Map[String, Column]], dv: Boolean,
                      txnId: Option[String]): Long =
    planDml(spark, tableDir, verb, m, txnId) { p =>
      import org.apache.spark.sql.functions.lit
      val action = if (set.isEmpty) "delete" else "update"
      if (dv) writeDeletionVectors(spark, tableDir, p, m, action, txnId,
        for (s <- set; df <- p.read) yield applySet(m.rows(df), lit(true), s))
      else writeCopyOnWrite(tableDir, p, action, txnId,
        p.read.map(df => set.fold(df.filter(!m.cond))(applySet(df, m.cond, _))))
    }

  /** Apply UPDATE ... SET against the PRE-image: the match condition
    * and every RHS evaluate on the ORIGINAL row values in one
    * simultaneous projection (SQL UPDATE semantics) — a SET column may
    * drive the predicate or another RHS without order sensitivity.
    * (A sequential withColumn fold gets this wrong: SET part='U',
    * v=v+1 WHERE part='B' relabels part first and the bump never
    * fires — caught by FuzzTxnSpec seed 6.) Each RHS casts to the
    * column's existing type, so an UPDATE cannot drift the schema. */
  private def applySet(df: DataFrame, cond: org.apache.spark.sql.Column,
                       set: Map[String, org.apache.spark.sql.Column]): DataFrame = {
    import org.apache.spark.sql.functions.{col, when}
    set.keys.foreach(c =>
      require(df.columns.contains(c), s"UPDATE SET names unknown column $c"))
    val flag = "__graft_upd"
    df.withColumn(flag, cond).select(df.columns.toSeq.map { c =>
      set.get(c).map(e =>
        when(col(flag), e.cast(df.schema(c).dataType)).otherwise(col(c)).as(c))
        .getOrElse(col(c))
    }: _*)
  }

  /** Stage a CUMULATIVE deletion vector for one live dir: the positions
    * of the rows `m` matches, unioned with the dir's existing dv (a
    * manifest carries ONE dv per dir, so each dv supersedes the last).
    * The read is era-aware — the match references CURRENT column names,
    * resolved by field id on a renamed/widened table — and positions are
    * captured pre-projection, from the hidden `_metadata` columns, so they
    * address the raw file: (data/-relative path, parquet row index),
    * stable for immutable files and independent of read parallelism. */
  private def stageDV(spark: SparkSession, tableDir: String, snap: Snapshot,
                      dir: String, m: DmlMatch): Option[String] = {
    import org.apache.spark.sql.functions.col
    val df = readEras(spark, tableDir, snap, Seq(dir), withMeta = true)
    writeDV(spark, tableDir, snap, dir,
      m.rows(df).select(col("_era_rel").as("rel"), col("_era_pos").as("pos")))
  }

  /** Shared dv-sidecar writer: union `matched` (rel, pos) with the
    * dir's existing dv, dedup, and persist — `None` when nothing is
    * doomed, the OLD dv name when nothing new matched (no pointless
    * sidecar churn), a fresh `dv-*` dir otherwise. */
  private def writeDV(spark: SparkSession, tableDir: String, snap: Snapshot,
                      dir: String, matched: DataFrame): Option[String] = {
    val all = snap.dvs.get(dir) match {
      case Some(old) => matched.unionByName(
        readDv(spark, Seq(new File(dataDir(tableDir), old).getPath))).distinct()
      case None => matched
    }
    val name = s"dv-${UUID.randomUUID()}"
    val dest = new File(dataDir(tableDir), name)
    all.coalesce(1).write.parquet(dest.getPath)
    val n = Tables.parquetRowCount(dest)
    val oldN = snap.dvs.get(dir).flatMap(nrowsOf(tableDir, _)).getOrElse(0L)
    if (n == 0L) { deleteRec(dest); None }
    else if (n == oldN) { deleteRec(dest); snap.dvs.get(dir) } // nothing new
    else {
      Files.write(new File(dest, ".nrows").toPath, n.toString.getBytes("UTF-8"))
      Some(name)
    }
  }

  /** Row-level MERGE (upsert): rows of `updates` replace ALL current rows
    * with the same `keyCols` value — (current ∖ keys) ∪ updates — and
    * unmatched update rows insert. On a key-unique table that is
    * [[mergeInto]] with one unconditional all-column update; on a table
    * holding a key twice, merge leaves one row where mergeInto updates
    * both. One atomic copy-on-write commit whose rewrite is pruned by the
    * `.stats` of
    * `keyCols.head` (written by append/overwrite's `statsCol`): dirs
    * whose [min, max] key range cannot overlap the update keys keep
    * their place in the live set untouched. At 100 TB that turns a daily
    * upsert from a full-table rewrite into a rewrite of the handful of
    * files the keys actually live in.
    *
    * `updates` must be key-unique on `keyCols` (Delta's "multiple source
    * rows matched" rejection; dedup upstream). Merge is read-modify-write,
    * so it cannot blind-rebase like append — but [[publishRebasing]]
    * (Delta's ConflictChecker re-derived) lets it land past winners that
    * provably did not touch its read set: appends whose manifest key
    * stats are disjoint from the update keys' bounds rebase through
    * without re-running the merge; genuine overlap, dv/eq changes on
    * rewritten dirs, schema/constraint winners and unprovable cases
    * throw [[CommitConflict]] (the caller re-reads and retries). Readers
    * of prior versions are unaffected; time travel still sees the
    * pre-merge rows. */
  def merge(spark: SparkSession, tableDir: String, updates: DataFrame,
            keyCols: Seq[String], txnId: Option[String] = None): Long =
    planDml(spark, tableDir, "merge", ByKeys(updates, keyCols, upsert = true), txnId) { p =>
      val keys = updates.select(keyCols.map(updates.col): _*)
      writeCopyOnWrite(tableDir, p, "merge", txnId, Some(p.read.fold(updates)(
        _.join(keys, keyCols, "left_anti").unionByName(updates))))
    }

  /** MERGE / upsert as MERGE-ON-READ (the Delta low-shuffle-merge + DV
    * shape): instead of rewriting every key-range-overlapping file
    * ([[merge]]'s copy-on-write), mark the OLD versions of matched keys
    * dead in per-dir deletion vectors (one broadcast semi-join per
    * candidate dir, candidates pruned by manifest key stats) and land the
    * ENTIRE batch — matched updates and fresh inserts alike — as ONE
    * appended dir. Write cost is proportional to the batch, not to the
    * files the matched keys live in: at 100 TB, upserting 1 000 CDC rows
    * scattered across terabyte files stops being a terabyte rewrite,
    * which is why Delta ships this as the default merge path. The result
    * is IDENTICAL to the CoW form — (current ∖ keys) ∪ updates — with the
    * same contracts: schema-on-write enforced, a key-unique batch (a
    * duplicate-key batch is rejected before staging; NULL-key tuples are
    * exempt), NULL keys never match, one atomic base+1 publish,
    * idempotent under txnId replay, CDC surfaces matched keys as
    * delete+insert, compaction MATERIALIZES the dvs away, and the
    * constraint gate in [[stage]] vets the incoming batch. */
  def mergeDV(spark: SparkSession, tableDir: String, updates: DataFrame,
              keyCols: Seq[String], txnId: Option[String] = None): Long = {
    val m = ByKeys(updates, keyCols, upsert = true)
    planDml(spark, tableDir, "mergeDV", m, txnId)(p =>
      writeDeletionVectors(spark, tableDir, p, m, "merge", txnId, Some(updates)))
  }

  /** One WHEN MATCHED clause of [[mergeInto]] — evaluated in the given
    * order, FIRST true condition wins (SQL:2003 / Delta MERGE).
    * Conditions and SET expressions see the TARGET row's columns under
    * their own names and the source row's non-key columns as
    * `_src_<name>`. */
  sealed trait MatchedClause {
    def cond: org.apache.spark.sql.Column
  }
  final case class MatchedUpdate(cond: org.apache.spark.sql.Column,
                                 set: Map[String, org.apache.spark.sql.Column])
    extends MatchedClause
  final case class MatchedDelete(cond: org.apache.spark.sql.Column)
    extends MatchedClause

  /** Full MERGE INTO (SQL:2003 / Delta MERGE): WHEN MATCHED [AND cond]
    * THEN UPDATE SET ... | DELETE (any number, evaluated in order,
    * first true condition wins; a matched row firing no clause keeps
    * unchanged), WHEN NOT MATCHED [AND cond] THEN INSERT the source
    * row, and `whenNotMatchedBySource` (Delta's third clause family,
    * SQL:2023): UPDATE SET / DELETE clauses, first-true-wins, applied to
    * TARGET rows with NO source match. On a key-unique table [[merge]] is
    * the unconditional-upsert special case; this is the general DML
    * workhorse — CDC apply with tombstones, SCD updates, conditional
    * backfills, and full sync (`MatchedDelete(lit(true))` by source makes
    * target = source) — as ONE atomic copy-on-write commit with
    * [[merge]]'s manifest-stats rewrite pruning: dirs whose key bounds
    * are disjoint from the source keys hold no matched row and keep their
    * place. By-source clauses can fire on ANY target row, so pruning is
    * off when there are any (Delta full-scans for the same reason). The
    * rewrite is ONE pass over the touched dirs: one full-outer key join,
    * one filter and one projection whose per-column CASE takes the
    * matched, not-matched-by-source or insert value by the row's side.
    *
    * Matched conditions/SETs may reference BOTH sides: target columns by
    * name, source non-key columns as `_src_<name>` (the Delta
    * `source.x`/`target.x` qualifiers, flattened); by-source ones see
    * target columns only. SET results cast to the column's existing type
    * (no schema drift); all SETs of a clause evaluate against the
    * PRE-IMAGE. NULL keys never match (SQL join semantics): a NULL-key
    * target row keeps, a NULL-key source row inserts. Source must be
    * key-unique and match the table schema exactly. Uniqueness is checked
    * inside the rewrite, as Delta's MERGE does: a window counts each
    * key's source rows over the join's own hash exchange on the key (no
    * extra job), and a duplicate non-NULL key fails the write, which
    * deletes its staged dir and throws `IllegalArgumentException`
    * naming the key. Same base+1 /
    * [[CommitConflict]] / txnId-idempotency contract as [[merge]]; reads
    * THROUGH dvs, so a dv'd row cannot resurrect; CDC surfaces the
    * effects as delete+insert pairs. */
  def mergeInto(spark: SparkSession, tableDir: String, source: DataFrame,
                keyCols: Seq[String],
                whenMatched: Seq[MatchedClause],
                insertNotMatched: Boolean = true,
                insertCond: org.apache.spark.sql.Column =
                  org.apache.spark.sql.functions.lit(true),
                txnId: Option[String] = None,
                whenNotMatchedBySource: Seq[MatchedClause] = Nil): Long = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{coalesce, col, concat_ws, count, format_string,
      lit, raise_error, when}
    (whenMatched ++ whenNotMatchedBySource).foreach {
      case MatchedUpdate(_, set) => require(!keyCols.exists(set.contains),
        "SET on a merge key is not supported — delete + insert instead")
      case _ => ()
    }
    val m = ByKeys(source, keyCols, upsert = true, prune = whenNotMatchedBySource.isEmpty,
      uniqueInWrite = true)
    planDml(spark, tableDir, "mergeInto", m, txnId) { p =>
      val current = p.read.getOrElse(source.limit(0))
      val tgtCols = current.columns.toSeq
      val srcRenamed = source.select(
        keyCols.map(source.col) ++
          tgtCols.filterNot(keyCols.contains).map(c => source.col(c).as(s"_src_$c")): _*)
      // the source's rows per key, counted by a window partitioned on the
      // key: it runs over the join's hash exchange, so it adds no job
      val srcDup = count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*)) > 1L &&
        keyCols.map(col(_).isNotNull).reduce(_ && _)
      val joined = current.withColumn("_tgt", lit(true))
        .join(srcRenamed.withColumn("_src", lit(true)).withColumn("_dup", srcDup),
          keyCols.toSeq, "full_outer")
      val isTgt = col("_tgt").isNotNull
      val isSrc = col("_src").isNotNull
      // first-true-condition-wins fold: NULL condition = not fired (SQL).
      // by-source clauses fold the same way over the NOT-matched target
      // rows (a `_src_*` reference is NULL there, so such a condition
      // simply never fires)
      def fires(c: org.apache.spark.sql.Column) = coalesce(c, lit(false))
      def deletes(clauses: Seq[MatchedClause]) = clauses.foldRight(lit(false)) { (cl, rest) =>
        when(fires(cl.cond), lit(cl.isInstanceOf[MatchedDelete])).otherwise(rest)
      }
      def valueIn(clauses: Seq[MatchedClause], c: String) =
        clauses.foldRight(current.col(c)) { (cl, rest) =>
          cl match {
            case MatchedUpdate(cond, set) if set.contains(c) =>
              when(fires(cond), set(c).cast(current.schema(c).dataType)).otherwise(rest)
            case other => when(fires(other.cond), current.col(c)).otherwise(rest)
          }
        }
      // ONE pass over the key join, so it is planned and shuffled once: a
      // row survives by its own side's rule, and each column is a CASE on
      // the side, so a clause's condition and SETs are evaluated only on
      // the rows they can fire for (AND/OR and CASE short-circuit)
      val keep = (isTgt && isSrc && !deletes(whenMatched)) ||
        (isTgt && !isSrc && !deletes(whenNotMatchedBySource)) ||
        (!isTgt && lit(insertNotMatched) && fires(insertCond))
      // a duplicate source key fails the filter, whatever the clauses: the
      // filter is one CASE over both sides, so no rule can turn the outer
      // join into one that drops unmatched source rows unchecked
      val rejectDup = raise_error(format_string(duplicateKeyMessage("mergeInto", "%s"),
        concat_ws(", ", keyCols.map(c => concat_ws("=", lit(c), col(c).cast("string"))): _*)))
      val rewritten = joined.filter(when(coalesce(col("_dup"), lit(false)), rejectDup)
        .otherwise(keep)).select(tgtCols.map(c =>
        (if (keyCols.contains(c)) col(c) // the coalesced USING-join key
         else when(isTgt && isSrc, valueIn(whenMatched, c))
           .when(isTgt, valueIn(whenNotMatchedBySource, c))
           .otherwise(col(s"_src_$c").cast(current.schema(c).dataType))).as(c)): _*)
      try writeCopyOnWrite(tableDir, p, "merge", txnId, Some(rewritten))
      catch {
        case e: Exception => throw raisedMessage(e)
          .filter(_.contains(duplicateKey))
          .map(new IllegalArgumentException(_)).getOrElse(e)
      }
    }
  }

  /** The message of a `raise_error` that failed `e`'s job, from its cause
    * chain. */
  private def raisedMessage(e: Throwable): Option[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
      case t: org.apache.spark.SparkThrowable if t.getCondition == "USER_RAISED_EXCEPTION" =>
        t.getMessageParameters.get("errorMessage")
    }

  /** Row-level DELETE of a key range (copy-on-write): removes every row
    * whose `column` value lies in [lo, hi], as ONE atomic commit, WITH
    * manifest-stats file pruning — a dir whose recorded [min, max] on
    * `column` is disjoint from the range is KEPT in the live set
    * untouched (zero reads, zero writes); only possibly-overlapping
    * dirs are read back, filtered, and rewritten. A touched dir whose
    * every row matches simply drops out of the live set. At 100 TB this
    * is Delta's DELETE WHERE on a clustered table: a GDPR purge or
    * retention sweep rewrites the handful of files the keys live in, not
    * the table. `column` must be integral in the table schema (long
    * bounds are only sound there, see [[isIntegral]]) — checked even when
    * no dir overlaps; for arbitrary predicates use [[deleteWhere]]. NULL
    * never matches the range (SQL DELETE). Conflict semantics match
    * [[merge]]; [[changes]] surfaces the removed rows as "delete". */
  def deleteRange(spark: SparkSession, tableDir: String, column: String,
                  lo: Long, hi: Long, txnId: Option[String] = None): Long =
    dmlRows(spark, tableDir, "deleteRange", ByRange(column, lo, hi), None, dv = false, txnId)

  /** Row-level DELETE by arbitrary predicate (copy-on-write): removes
    * every row where `predicate` is TRUE (NULL keeps the row — SQL
    * DELETE semantics). No bounds can be derived from an opaque
    * [[org.apache.spark.sql.Column]], so every live dir is rewritten;
    * range-shaped deletes should use [[deleteRange]] and prune. */
  def deleteWhere(spark: SparkSession, tableDir: String,
                  predicate: org.apache.spark.sql.Column,
                  txnId: Option[String] = None): Long =
    dmlRows(spark, tableDir, "deleteWhere", ByPredicate(predicate), None, dv = false, txnId)

  /** Row-level UPDATE ... SET as one atomic copy-on-write commit (the
    * Delta/Iceberg UPDATE): dirs provably disjoint from [lo, hi] by
    * their manifest bounds are never read or written; overlapping dirs
    * are rewritten with each `set` expression applied ONLY to matching
    * rows ([[applySet]]: against the pre-image, cast to the column's
    * existing type) and every other row byte-preserved. NULL keys keep
    * their rows unmodified (SQL UPDATE WHERE semantics). `column` is
    * checked as in [[deleteRange]]. Shares the base+1 /
    * [[CommitConflict]] contract with merge/delete/compact; [[changes]]
    * surfaces an update as delete+insert; time travel still reads
    * pre-update values; staged stats re-derive from the written data,
    * so skipping stays sound even when `set` rewrites the stats key. */
  def updateRange(spark: SparkSession, tableDir: String, column: String,
                  lo: Long, hi: Long,
                  set: Map[String, org.apache.spark.sql.Column],
                  txnId: Option[String] = None): Long =
    dmlRows(spark, tableDir, "updateRange", ByRange(column, lo, hi), Some(set), dv = false, txnId)

  /** Predicate form of [[updateRange]]: no bounds can be proven from an
    * opaque Column, so every live dir is rewritten (into one packed
    * dir, like [[deleteWhere]]); a NULL predicate leaves the row
    * unmodified. */
  def updateWhere(spark: SparkSession, tableDir: String,
                  predicate: org.apache.spark.sql.Column,
                  set: Map[String, org.apache.spark.sql.Column],
                  txnId: Option[String] = None): Long =
    dmlRows(spark, tableDir, "updateWhere", ByPredicate(predicate), Some(set), dv = false, txnId)

  /** Row-level DELETE as a MERGE-ON-READ deletion vector (Delta DVs /
    * Iceberg positional deletes): instead of rewriting every file the
    * range touches ([[deleteRange]]'s copy-on-write), record the doomed
    * ROW POSITIONS in per-dir `dv-*` sidecars and publish a manifest
    * whose LIVE SET IS UNCHANGED — readers drop the positions at scan
    * time ([[readDirsDV]]). Write cost is one scan of the
    * bounds-overlapping dirs plus a KB-sized dv write; at 100 TB a
    * 100-row GDPR purge stops being a terabyte rewrite. The read-side
    * rent accrues until a [[compact]]/[[compactClustered]] rewrite
    * MATERIALIZES the dvs. Manifest-stats pruning stays sound: dv'd
    * bounds are a superset of effective content. NULL keys keep their
    * rows (SQL DELETE); same base+1 / [[CommitConflict]] contract and
    * column check as the CoW form; [[changes]] surfaces dv'd rows as
    * "delete"; time travel still reads pre-delete snapshots. */
  def deleteRangeDV(spark: SparkSession, tableDir: String, column: String,
                    lo: Long, hi: Long, txnId: Option[String] = None): Long =
    dmlRows(spark, tableDir, "deleteRangeDV", ByRange(column, lo, hi), None, dv = true, txnId)

  /** Predicate form of [[deleteRangeDV]]: every live dir is scanned for
    * matching positions (no bounds from an opaque Column), but NO data
    * is rewritten — dirs with matches gain a dv, the rest are untouched
    * (and keep any existing dv). NULL predicate keeps the row. */
  def deleteWhereDV(spark: SparkSession, tableDir: String,
                    predicate: org.apache.spark.sql.Column,
                    txnId: Option[String] = None): Long =
    dmlRows(spark, tableDir, "deleteWhereDV", ByPredicate(predicate), None, dv = true, txnId)

  /** Row-level UPDATE as MERGE-ON-READ (the Delta DV-update shape):
    * instead of rewriting every bounds-overlapping file
    * ([[updateRange]]'s copy-on-write), mark the matched ROW POSITIONS
    * dead in per-dir deletion vectors and APPEND one new dir holding
    * the rewritten matched rows — so the write cost is proportional to
    * the rows changed, not to the files they happen to live in. At
    * 100 TB, repricing 100 rows scattered across terabyte files stops
    * being a terabyte rewrite. Semantics are identical to the CoW form
    * and SQL UPDATE ([[applySet]]), and matched rows are read THROUGH
    * existing dvs so an already-deleted row cannot resurrect into the
    * rewrite. One atomic base+1 commit (same [[CommitConflict]]
    * contract); CDC surfaces the update as delete+insert; compaction
    * later MATERIALIZES the dvs away. Dirs provably disjoint from the
    * range are never even scanned. */
  def updateRangeDV(spark: SparkSession, tableDir: String, column: String,
                    lo: Long, hi: Long,
                    set: Map[String, org.apache.spark.sql.Column],
                    txnId: Option[String] = None): Long =
    dmlRows(spark, tableDir, "updateRangeDV", ByRange(column, lo, hi), Some(set), dv = true, txnId)

  /** Predicate form of [[updateRangeDV]]: no bounds can be proven from
    * an opaque Column, so every live dir is SCANNED for matching
    * positions — but no data is rewritten except the matched rows
    * themselves, which land as one appended dir. NULL predicate keeps
    * the row unmodified (SQL UPDATE WHERE). */
  def updateWhereDV(spark: SparkSession, tableDir: String,
                    predicate: org.apache.spark.sql.Column,
                    set: Map[String, org.apache.spark.sql.Column],
                    txnId: Option[String] = None): Long =
    dmlRows(spark, tableDir, "updateWhereDV", ByPredicate(predicate), Some(set), dv = true, txnId)

  /** EQUALITY delete (Iceberg's second delete flavor, completing the
    * taxonomy: copy-on-write [[deleteRange]]/[[deleteWhere]], positional
    * merge-on-read [[deleteRangeDV]], and this): delete every row whose
    * key tuple appears in `keys`, WITHOUT SCANNING THE TABLE AT ALL —
    * the key set lands as an `eq-*` dir and the manifest's `eqs` map
    * records which live dirs it applies to (the planner's touched dirs,
    * stats-pruned by the first key's bounds when provable), so the write
    * costs O(|keys|) regardless of table size: the shape a high-rate CDC
    * tombstone stream needs at 100 TB. The rent moves to read time:
    * applied dirs anti-join the broadcast KB-sized key set at scan.
    * Sequencing is manifest-scoped, exactly Iceberg's sequence-number
    * rule: the delete applies only to dirs live at its commit — a LATER
    * append of the same key is visible, not retro-deleted. Copy-on-write
    * rewrites and compaction read THROUGH eq deletes and
    * [[tryPublish]]'s inherit-and-filter drops entries whose applied
    * dirs left the live set. NULL keys never match (SQL). Key columns
    * must exist in the table schema with matching types. Same base+1 /
    * [[CommitConflict]] / txnId contract as every writer; the applies-set
    * is the op's read set (a winner that rewrote one of those dirs would
    * carry the doomed rows out of its reach, so the rebase check pins
    * them); [[vacuum]] keeps referenced eq dirs; [[cloneTable]] carries
    * them as references. */
  def deleteKeysEq(spark: SparkSession, tableDir: String, keys: DataFrame,
                   txnId: Option[String] = None): Long = {
    val keyCols = keys.columns.toSeq
    planDml(spark, tableDir, "deleteKeysEq", ByKeys(keys, keyCols, upsert = false), txnId) { p =>
      // the key set is DELETE metadata, not table data: written directly
      // (no constraint gate — a delete cannot violate a CHECK, and the
      // key projection may not even resolve the constraint's columns)
      val eqAdd = if (p.touched.isEmpty) None else {
        val eqName = s"eq-${UUID.randomUUID()}"
        val dest = new File(dataDir(tableDir), eqName)
        keys.select(keyCols.map(keys.col): _*).distinct().coalesce(1)
          .write.parquet(dest.getPath)
        val n = Tables.parquetRowCount(dest)
        Files.write(new File(dest, ".nrows").toPath, n.toString.getBytes("UTF-8"))
        Some(eqName -> ((keyCols, p.touched)))
      }
      publishRebasing(tableDir, p.snap, "delete", Set.empty, Nil, p.touched.toSet,
        p.addCheck, txnId, eqAdd = eqAdd)
    }
  }

  /** Metadata-only ADD COLUMN (Delta/Iceberg schema evolution): the new
    * nullable column lands as ONE manifest write — ZERO data rewritten.
    * The evolved DDL rides IN the manifest (atomic with the commit) and
    * every later commit carries it forward; read paths pass it to the
    * parquet reader explicitly, so pre-evolution files null-backfill
    * the column at scan time. Time travel to pre-evolution versions
    * reads the old shape (their manifests carry no schema); restore
    * across an evolution reverts it the same way. Appends after the
    * evolution must carry the full new schema ([[SchemaMismatch]]
    * otherwise — no silent drift). Nullable-only by construction: the
    * one default a metadata-only backfill can honor at 100 TB. */
  def addColumn(spark: SparkSession, tableDir: String, name: String,
                ddlType: String, txnId: Option[String] = None): Long = {
    import org.apache.spark.sql.types.{DataType, StructField, StructType}
    txnId.flatMap(findTxn(tableDir, _)) match {
      case Some(v) => return v // replayed evolution — already committed
      case None    =>
    }
    val base = latestVersion(tableDir)
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    val snap = snapshot(tableDir, base)
    val cur = structOf(snap.schema.getOrElse {
      val f = new File(tableDir, "_schema")
      require(f.exists(), s"no recorded schema at $tableDir")
      new String(Files.readAllBytes(f.toPath), "UTF-8")
    })
    require(!cur.fieldNames.contains(name), s"column $name already exists")
    val evolved = StructType(
      cur.fields :+ StructField(name, DataType.fromDDL(ddlType), nullable = true))
    if (!tryPublish(tableDir, base + 1L, "addColumn", snap.live, txnId,
        dvs = snap.dvs, schema = Some(evolved.catalogString),
        // on a fids table the new column gets a FRESH id past the
        // high-water mark (never recycling a dropped one)
        fidsOverride = if (snap.fids.isEmpty) None
          else Some(snap.fids +
            (name -> (math.max(snap.fhwm, snap.fids.values.max) + 1)))))
      throw new CommitConflict(
        s"concurrent commit at version ${base + 1}; re-read and retry")
    maybeCheckpoint(tableDir, base + 1L)
    base + 1L
  }

  /** Rewrite every reference to `oldName` in a stored SQL expression to
    * `newName`, through Spark's OWN parser — string literals, quoted
    * identifiers and function names are untouched, which no regex can
    * guarantee ('`price`' the column vs 'price' the literal). The
    * round-15 rename-through-references machinery: specs store SQL
    * text, but the rename commit atomically rewrites every stored
    * reference, so renaming a constrained/generated/partition-transform
    * column WORKS (Iceberg semantics) instead of being rejected. */
  private def renameInExpr(spark: SparkSession, exprSql: String,
                           oldName: String, newName: String): String = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val renamed = spark.sessionState.sqlParser.parseExpression(exprSql)
      .transform {
        case a: UnresolvedAttribute if a.nameParts.length == 1 &&
            a.nameParts.head.equalsIgnoreCase(oldName) =>
          UnresolvedAttribute(Seq(newName))
      }.sql
    require(!renamed.exists(c => c == '"' || c == '}' || c == '\n'),
      s"rewritten expression '$renamed' violates the manifest charset")
    renamed
  }

  /** Reject an evolution that would orphan references to `name`:
    * constraints/generated columns/hidden-partition transforms mention
    * columns by name in SQL text, and partitioned dirs record the
    * partition column by name — a DROP/WIDEN under them would break
    * reads or writes silently (RENAME rewrites the references instead —
    * see [[renameInExpr]]). Conservative word-boundary match. */
  private def refCheck(snap: Snapshot, name: String, op: String): Unit = {
    val pat = ("(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(name) +
      "(?![A-Za-z0-9_])").r
    (snap.constraints ++ snap.gens).foreach { case (n, e) =>
      require(n != name && pat.findFirstIn(e).isEmpty,
        s"$op: column $name is referenced by constraint/generated column $n ($e)")
    }
    snap.ptrans.foreach { case (a, e) =>
      require(a != name && pat.findFirstIn(e).isEmpty,
        s"$op: column $name is referenced by the hidden-partition spec ($a = $e)")
    }
    require(!snap.parts.values.exists(_._1 == name),
      s"$op: column $name is a partition column of live dirs")
    require(!snap.eqs.values.exists(_._1.contains(name)),
      s"$op: column $name is a key of an outstanding equality delete " +
        "(compact to materialize the tombstones first)")
  }

  /** The table's field ids, MINTED on first use: ids 1..n are assigned
    * to the current schema's columns in order and `schema0` records that
    * DDL — dirs staged before minting have no `.cols` sidecar and read
    * under `schema0` (sound: no rename can have preceded minting, so
    * name-based resolution within that era is exact). Once minted, ids
    * are permanent ([[restore]] refuses to cross the minting boundary —
    * un-minting then re-minting would re-number ids that existing
    * sidecars already use). */
  private def mintedFids(snap: Snapshot,
                         cur: org.apache.spark.sql.types.StructType): (Map[String, Int], String) =
    if (snap.fids.nonEmpty)
      (snap.fids, snap.schema0.getOrElse(
        throw new IllegalStateException("fids present but no schema0")))
    else
      (cur.fieldNames.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap,
        cur.catalogString)

  /** Metadata-only RENAME COLUMN (Iceberg schema evolution, the field-id
    * mechanism): ONE manifest write, ZERO data rewritten. The column's
    * stable id keeps resolving old files under their physical (old)
    * name at read time ([[readEras]]); writes after the rename carry the
    * new name (schema-on-write compares the evolved DDL); compaction
    * materializes the rename into the files. Stats-based pruning on
    * PRE-rename dirs degrades to "always planned" for the renamed
    * column (their manifest bounds carry the old name — sound, just
    * unpruned) until a clustered rewrite re-derives them. Renaming a
    * column referenced by a constraint/generated column/partition spec
    * is rejected — SQL text references names, not ids. */
  def renameColumn(spark: SparkSession, tableDir: String, oldName: String,
                   newName: String, txnId: Option[String] = None): Long = {
    require(newName.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"column name '$newName' must be identifier-shaped")
    txnId.flatMap(findTxn(tableDir, _)) match {
      case Some(v) => return v // replayed — already committed
      case None    =>
    }
    val base = latestVersion(tableDir)
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    val snap = snapshot(tableDir, base)
    val cur = effectiveSchema(tableDir, snap).getOrElse(
      throw new IllegalStateException(s"no recorded schema at $tableDir"))
    require(cur.fieldNames.contains(oldName), s"no column $oldName")
    require(!cur.fieldNames.contains(newName), s"column $newName already exists")
    // renames RESOLVE THROUGH references (round 15, Iceberg semantics):
    // every stored SQL text — CHECK constraints, generated-column
    // specs, the hidden-partition transform and its whole era history —
    // is rewritten to the new name IN the same atomic commit, and the
    // manifest's partition-column entries rewrite alongside
    // (tryPublish's partsRename; survivors carry the rewritten map
    // forward, dirs' immutable `.part` sidecars are never re-read).
    // Only equality-delete keys still reject: their key columns are
    // baked into immutable eq parquet files (compact to materialize the
    // tombstones first).
    require(!snap.eqs.values.exists(_._1.contains(oldName)),
      s"renameColumn: column $oldName is a key of an outstanding equality " +
        "delete (compact to materialize the tombstones first)")
    def rw(e: String): String = renameInExpr(spark, e, oldName, newName)
    val consRw = snap.constraints.map { case (n, e) => n -> rw(e) }
    val gensRw = snap.gens.map { case (n, e) =>
      (if (n == oldName) newName else n) -> rw(e)
    }
    val ptransRw = snap.ptrans.map { case (a, e) => (a, rw(e)) }
    val pthistRw = snap.pthist.map { case (a, e) => (a, rw(e)) }
    val (fids, schema0) = mintedFids(snap, cur)
    val evolved = org.apache.spark.sql.types.StructType(
      cur.fields.map(f => if (f.name == oldName) f.copy(name = newName) else f))
    if (!tryPublish(tableDir, base + 1L, "renameColumn", snap.live, txnId,
        dvs = snap.dvs, schema = Some(evolved.catalogString),
        fidsOverride = Some(fids - oldName + (newName -> fids(oldName))),
        schema0Override = Some(Some(schema0)),
        constraintsOverride = Some(consRw),
        gensOverride = Some(gensRw),
        ptransOverride = Some(ptransRw),
        pthistOverride = Some(pthistRw),
        partsRename = Some((oldName, newName))))
      throw new CommitConflict(
        s"concurrent commit at version ${base + 1}; re-read and retry")
    maybeCheckpoint(tableDir, base + 1L)
    base + 1L
  }

  /** Metadata-only DROP COLUMN: the field vanishes from the schema and
    * the fids map; old files physically retain the bytes (not selected
    * at read time) until a rewrite materializes the drop. The freed id
    * is NEVER reused (`fhwm` high-water mark) — a recycled id would
    * resolve the dropped column's old files into the new column. */
  def dropColumn(spark: SparkSession, tableDir: String, name: String,
                 txnId: Option[String] = None): Long = {
    txnId.flatMap(findTxn(tableDir, _)) match {
      case Some(v) => return v // replayed — already committed
      case None    =>
    }
    val base = latestVersion(tableDir)
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    val snap = snapshot(tableDir, base)
    val cur = effectiveSchema(tableDir, snap).getOrElse(
      throw new IllegalStateException(s"no recorded schema at $tableDir"))
    require(cur.fieldNames.contains(name), s"no column $name")
    require(cur.fields.length > 1, "cannot drop the last column")
    refCheck(snap, name, "dropColumn")
    val (fids, schema0) = mintedFids(snap, cur)
    val evolved = org.apache.spark.sql.types.StructType(
      cur.fields.filterNot(_.name == name))
    if (!tryPublish(tableDir, base + 1L, "dropColumn", snap.live, txnId,
        dvs = snap.dvs, schema = Some(evolved.catalogString),
        fidsOverride = Some(fids - name),
        schema0Override = Some(Some(schema0)),
        // when the drop itself MINTS the ids (prev.fhwm = 0) and the
        // dropped column held the highest id, the post-drop fids alone
        // would publish fhwm = n-1 and a later addColumn would recycle
        // id n — resolving the dropped column's old bytes into the new
        // column. Floor the mark at the PRE-removal max.
        fhwmFloor = fids.values.max))
      throw new CommitConflict(
        s"concurrent commit at version ${base + 1}; re-read and retry")
    maybeCheckpoint(tableDir, base + 1L)
    base + 1L
  }

  /** Safe type WIDENING, metadata-only: tinyint→smallint→int→bigint and
    * float→double (the Iceberg-allowed promotions — every old value is
    * exactly representable in the new type, so the read-time cast is
    * lossless). Old files keep their narrow physical type and cast up
    * per era at read time; writes after the widen carry the wide type. */
  def widenColumn(spark: SparkSession, tableDir: String, name: String,
                  newTypeDdl: String, txnId: Option[String] = None): Long = {
    import org.apache.spark.sql.types._
    txnId.flatMap(findTxn(tableDir, _)) match {
      case Some(v) => return v // replayed — already committed
      case None    =>
    }
    val base = latestVersion(tableDir)
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    val snap = snapshot(tableDir, base)
    val cur = effectiveSchema(tableDir, snap).getOrElse(
      throw new IllegalStateException(s"no recorded schema at $tableDir"))
    require(cur.fieldNames.contains(name), s"no column $name")
    refCheck(snap, name, "widenColumn")
    val to = DataType.fromDDL(newTypeDdl)
    val from = cur(name).dataType
    val ok = (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType)            => true
      case (IntegerType, LongType)                        => true
      case (FloatType, DoubleType)                        => true
      case _                                              => false
    }
    require(ok, s"widenColumn: ${from.sql} -> ${to.sql} is not a safe widening")
    val (fids, schema0) = mintedFids(snap, cur)
    val evolved = StructType(
      cur.fields.map(f => if (f.name == name) f.copy(dataType = to) else f))
    if (!tryPublish(tableDir, base + 1L, "widenColumn", snap.live, txnId,
        dvs = snap.dvs, schema = Some(evolved.catalogString),
        fidsOverride = Some(fids),
        schema0Override = Some(Some(schema0))))
      throw new CommitConflict(
        s"concurrent commit at version ${base + 1}; re-read and retry")
    maybeCheckpoint(tableDir, base + 1L)
    base + 1L
  }

  /** Table-level CHECK constraint (Delta ALTER TABLE ADD CONSTRAINT):
    * the named SQL expression rides IN the manifest — atomic with the
    * commit, carried forward automatically by every later commit (like
    * `dvs`/`schema`) — and every subsequent write is REJECTED with a
    * typed [[ConstraintViolation]] if any incoming row evaluates the
    * expression to FALSE (NULL passes — standard SQL CHECK; the gate
    * sits in [[stage]], so append/overwrite/merge/update/partition
    * writes are all covered, at the cost of one extra aggregate over
    * data the writer is already scanning). Adding the constraint first
    * VALIDATES the current snapshot (read through dvs) — one scan, the
    * same price Delta pays — then publishes a metadata-only commit.
    * Constraints survive restore deliberately: a rollback must not
    * silently drop governance. Write-time-only enforcement thereafter
    * (restore/time travel do not re-validate — document-matched with
    * Delta). Names and exprs are manifest-safe by construction: names
    * are identifier-shaped and non-reserved, exprs exclude `"`, `}`
    * and newlines. */
  /** SET TBLPROPERTIES (round 15): persist table properties IN the
    * manifest, inherited forward by every commit exactly like
    * constraints — so layout/maintenance policy is one-per-TABLE, not
    * one-per-JVM. The keys the engine itself honors (per-table install
    * > manifest property > `-D` process default):
    *  - `graft.inPlaceData`      ("true"/"false"): object-store data
    *    publication by reference ([[installInPlaceData]]'s durable form)
    *  - `graft.ckptOffload`      ("true"/"false"): async checkpoint
    *    offload ([[installCkptOffload]]'s durable form)
    *  - `graft.ckptDirThreshold` (int): incremental-manifest cutover
    *  - `graft.minRetainVersions` (int): a floor every [[vacuum]] call
    *    honors regardless of its `retain` argument (fat-finger guard)
    * Anything else is a free-form user property (Delta TBLPROPERTIES).
    * One metadata-only commit; racing writers rebase past it and it
    * rebases past them ([[publishRebasing]] — a property set conflicts
    * only with schema/constraint winners). Properties survive clone and
    * restore; DESCRIBE DETAIL and SHOW TBLPROPERTIES surface them. */
  def setProperties(tableDir: String, props: Map[String, String],
                    txnId: Option[String] = None): Long = {
    require(props.nonEmpty, "setProperties needs at least one property")
    props.foreach { case (k, pv) =>
      require(k.matches("[A-Za-z_][A-Za-z0-9._-]*"),
        s"property key '$k' must be identifier-shaped ([A-Za-z0-9._-])")
      require(!reservedManifestKeys.contains(k), s"property key '$k' is reserved")
      require(!pv.exists(c => c == '"' || c == '}' || c == '\n' || c == '\\'),
        s"property value for '$k' must not contain '\"', '}', '\\' or newlines")
    }
    txnId.flatMap(findTxn(tableDir, _)) match {
      case Some(v) => return v // replayed — already committed
      case None    =>
    }
    val base = latestVersion(tableDir)
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    publishRebasing(tableDir, snapshot(tableDir, base), "setProperties",
      Set.empty, Nil, Set.empty, AddsIgnored, txnId, propsSet = props)
  }

  /** UNSET TBLPROPERTIES: drop `keys` from the manifest-carried map
    * (absent keys are a no-op, like Delta). Same commit semantics as
    * [[setProperties]]. */
  def unsetProperties(tableDir: String, keys: Seq[String],
                      txnId: Option[String] = None): Long = {
    require(keys.nonEmpty, "unsetProperties needs at least one key")
    txnId.flatMap(findTxn(tableDir, _)) match {
      case Some(v) => return v
      case None    =>
    }
    val base = latestVersion(tableDir)
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    publishRebasing(tableDir, snapshot(tableDir, base), "setProperties",
      Set.empty, Nil, Set.empty, AddsIgnored, txnId, propsUnset = keys.toSet)
  }

  /** One manifest-carried property of the table's head version, or None
    * (no commits / no such key). The durable middle layer of every mode
    * lookup: per-table JVM install > THIS > process `-D` default. */
  def tableProperty(tableDir: String, key: String): Option[String] =
    try latestVersion(tableDir).flatMap(v => snapshot(tableDir, v).props.get(key))
    catch { case _: Exception => None } // mode probes never fail a write

  def addConstraint(spark: SparkSession, tableDir: String, name: String,
                    exprSql: String, txnId: Option[String] = None): Long = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name '$name' must be identifier-shaped")
    require(!reservedManifestKeys.contains(name),
      s"constraint name '$name' is reserved")
    require(!exprSql.exists(c => c == '"' || c == '}' || c == '\n'),
      "constraint expression must not contain '\"', '}' or newlines")
    txnId.flatMap(findTxn(tableDir, _)) match {
      case Some(v) => return v // replayed — already committed
      case None    =>
    }
    val base = latestVersion(tableDir)
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    val snap = snapshot(tableDir, base)
    require(!snap.constraints.contains(name), s"constraint $name already exists")
    if (snap.live.nonEmpty) {
      import org.apache.spark.sql.functions.expr
      val bad = readDirsDV(spark, tableDir, snap, snap.live)
        .filter(expr(s"NOT coalesce(($exprSql), true)")).count()
      if (bad > 0) throw new ConstraintViolation(
        s"cannot add CHECK constraint $name ($exprSql): " +
          s"$bad existing row(s) violate it")
    }
    if (!tryPublish(tableDir, base + 1L, "addConstraint", snap.live, txnId,
        dvs = snap.dvs, schema = snap.schema,
        constraintsOverride = Some(snap.constraints + (name -> exprSql))))
      throw new CommitConflict(
        s"concurrent commit at version ${base + 1}; re-read and retry")
    maybeCheckpoint(tableDir, base + 1L)
    base + 1L
  }

  /** GENERATED column (Delta GENERATED ALWAYS AS): declare an existing
    * column as computed from `exprSql`. The spec rides IN the manifest
    * (atomic, carried forward like constraints) and from then on EVERY
    * write is generation-aware: a writer that OMITS the column gets it
    * COMPUTED (append/overwrite — the Delta write path), a writer that
    * supplies it is VALIDATED in [[stage]]'s fused gate (null-safe
    * equality; a drifted value is rejected with the typed
    * [[ConstraintViolation]] and no trace). Declaring first VALIDATES
    * the current snapshot (read through dvs/eqs) — one scan; a table
    * whose rows already violate the generation cannot adopt it (null-
    * backfilled addColumn rows count as violations: backfill first).
    * At 100 TB this is how derived partitioning/feature columns stay
    * TRUSTWORTHY: the invariant is table-level metadata, not pipeline
    * convention. Same name/expr charset rules as constraints. */
  def addGeneratedColumn(spark: SparkSession, tableDir: String, name: String,
                         exprSql: String, txnId: Option[String] = None): Long = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"column name '$name' must be identifier-shaped")
    require(!reservedManifestKeys.contains(name),
      s"generated column name '$name' is reserved")
    require(!exprSql.exists(c => c == '"' || c == '}' || c == '\n'),
      "generation expression must not contain '\"', '}' or newlines")
    txnId.flatMap(findTxn(tableDir, _)) match {
      case Some(v) => return v // replayed — already committed
      case None    =>
    }
    val base = latestVersion(tableDir)
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    val snap = snapshot(tableDir, base)
    require(!snap.gens.contains(name), s"generated column $name already declared")
    if (snap.live.nonEmpty) {
      import org.apache.spark.sql.functions.expr
      val cur = readDirsDV(spark, tableDir, snap, snap.live)
      require(cur.columns.contains(name),
        s"no column $name in the table — addColumn (and backfill) first")
      val bad = cur.filter(expr(s"NOT (($name) <=> ($exprSql))")).count()
      if (bad > 0) throw new ConstraintViolation(
        s"cannot declare $name GENERATED AS ($exprSql): " +
          s"$bad existing row(s) violate the generation")
    }
    if (!tryPublish(tableDir, base + 1L, "addGenerated", snap.live, txnId,
        dvs = snap.dvs, schema = snap.schema,
        gensOverride = Some(snap.gens + (name -> exprSql))))
      throw new CommitConflict(
        s"concurrent commit at version ${base + 1}; re-read and retry")
    maybeCheckpoint(tableDir, base + 1L)
    base + 1L
  }

  /** Drop a generated-column declaration — metadata-only commit; the
    * column itself stays, it just stops being computed/validated. */
  def dropGeneratedColumn(tableDir: String, name: String,
                          txnId: Option[String] = None): Long = {
    txnId.flatMap(findTxn(tableDir, _)) match {
      case Some(v) => return v
      case None    =>
    }
    val base = latestVersion(tableDir)
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    val snap = snapshot(tableDir, base)
    require(snap.gens.contains(name), s"no generated column $name")
    if (!tryPublish(tableDir, base + 1L, "dropGenerated", snap.live, txnId,
        dvs = snap.dvs, schema = snap.schema,
        gensOverride = Some(snap.gens - name)))
      throw new CommitConflict(
        s"concurrent commit at version ${base + 1}; re-read and retry")
    maybeCheckpoint(tableDir, base + 1L)
    base + 1L
  }

  /** Drop a named CHECK constraint — metadata-only commit. */
  def dropConstraint(tableDir: String, name: String,
                     txnId: Option[String] = None): Long = {
    txnId.flatMap(findTxn(tableDir, _)) match {
      case Some(v) => return v
      case None    =>
    }
    val base = latestVersion(tableDir)
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    val snap = snapshot(tableDir, base)
    require(snap.constraints.contains(name), s"no constraint $name")
    if (!tryPublish(tableDir, base + 1L, "dropConstraint", snap.live, txnId,
        dvs = snap.dvs, schema = snap.schema,
        constraintsOverride = Some(snap.constraints - name)))
      throw new CommitConflict(
        s"concurrent commit at version ${base + 1}; re-read and retry")
    maybeCheckpoint(tableDir, base + 1L)
    base + 1L
  }

  /** Change-data feed between two snapshots: every row inserted or
    * deleted going `fromVersion` → `toVersion`, tagged in a `_change`
    * column ("insert" / "delete"; an update surfaces as delete+insert,
    * the classic CDF encoding). Two paths:
    *  - append-only window (every old dir still live): the changes ARE
    *    the added dirs — read them directly, zero comparison work. This
    *    is the hot path a downstream incremental pipeline (the q108
    *    shape) polls every few minutes.
    *  - otherwise (overwrite/merge/compaction in the window): a
    *    multiset diff of the two snapshots (`exceptAll` both ways —
    *    duplicate rows counted, not collapsed). Note compaction is
    *    content-identical, so its diff is empty — cost without signal;
    *    poll file-level when you can.
    */
  def changes(spark: SparkSession, tableDir: String,
              fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(fromVersion <= toVersion, "fromVersion must precede toVersion")
    val from = snapshot(tableDir, fromVersion)
    val to = snapshot(tableDir, toVersion)
    def readDirs(sn: Snapshot, dirs: Seq[String]): DataFrame =
      if (dirs.isEmpty) read(spark, tableDir, Some(toVersion)).limit(0)
      else readDirsDV(spark, tableDir, sn, dirs)
    // fast path needs dir-set containment AND per-dir dv identity AND
    // eq-delete identity — a merge-on-read delete keeps the live set
    // byte-identical but changes effective content, so a dv or eq delta
    // forces the multiset diff
    if (from.live.forall(to.live.contains) &&
        from.live.forall(d => from.dvs.get(d) == to.dvs.get(d)) &&
        from.eqs == to.eqs) {
      val added = to.live.filterNot(from.live.contains)
      if (added.isEmpty) readDirs(to, to.live).limit(0).withColumn("_change", lit("insert"))
      else readDirs(to, added).withColumn("_change", lit("insert"))
    } else {
      val a0 = readDirs(from, from.live)
      val b = readDirs(to, to.live)
      // schema evolution between the endpoints: align the FROM side to
      // the feed's (to's) shape — missing columns null-backfill, extra
      // columns drop — so value-identical rows cancel in the multiset
      // diff instead of tripping a union mismatch
      val a =
        if (a0.columns.sameElements(b.columns)) a0
        else a0.select(b.columns.map(c =>
          if (a0.columns.contains(c)) a0.col(c)
          else lit(null).cast(b.schema(c).dataType).as(c)).toSeq: _*)
      b.exceptAll(a).withColumn("_change", lit("insert"))
        .unionByName(a.exceptAll(b).withColumn("_change", lit("delete")))
    }
  }

  /** STREAMING CDC source: the table's commit log as a Structured
    * Streaming DataFrame — one row per manifest, discovered exactly
    * once. Rather than hand-rolling a DSv2 MicroBatchStream, this
    * reuses Spark's FileStreamSource (offset tracking, checkpointed
    * seen-file log, crash recovery all built in) pointed at `_log`:
    * every commit publishes exactly one immutable `v*.json`, which is
    * precisely the contract the file source needs. `.tmp-*` staging
    * names are excluded by the glob.
    */
  def manifestStream(spark: SparkSession, tableDir: String): DataFrame =
    spark.readStream
      .option("pathGlobFilter", "v*.json")
      .text(logDir(tableDir).getPath)

  /** End-to-end streaming CDC pump, txn table → txn table, EXACTLY
    * ONCE: tails the source's commit log ([[manifestStream]]) and, for
    * each source commit in version order, appends that ONE commit
    * window's change feed (insert/delete-tagged, via [[changes]] — the
    * file-level fast path for append windows) to `destDir` with
    * `txnId = "cdc-<version>"`. The composition makes replays no-ops
    * at BOTH layers: Spark's checkpoint prevents re-reading manifests,
    * and a reprocessed window finds its txnId in the destination log
    * and skips — so even a rebuilt stream checkpoint (full history
    * replay) leaves the destination byte-identical.
    *
    * Version 0 emits the initial snapshot as inserts (the bootstrap
    * batch); later versions emit their window's feed. The per-batch
    * collect is of MANIFEST ROWS (KB-sized metadata, one per commit),
    * never data. Retention caveat: the source must not be vacuumed past
    * the stream's progress, or the window read throws the typed
    * [[RetentionError]].
    */
  def changesStream(spark: SparkSession, srcDir: String, destDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions.lit
    manifestStream(spark, srcDir).writeStream.foreachBatch {
      (batch: DataFrame, _: Long) =>
        val vs = batch.collect()
          .flatMap(r => """"version"\s*:\s*(\d+)""".r
            .findFirstMatchIn(r.getString(0)).map(_.group(1).toLong))
          .sorted
        vs.foreach { v =>
          val feed =
            if (v == 0L) read(spark, srcDir, Some(0L)).withColumn("_change", lit("insert"))
            else changes(spark, srcDir, v - 1L, v)
          append(feed, destDir, txnId = Some(s"cdc-$v")): Unit
        }
    }
  }

  /** Rewrite the live set of the latest snapshot into one bin-packed dir
    * and commit it as a content-identical new version (the OPTIMIZE /
    * small-file-compaction maintenance action). `targetFiles` bounds the
    * output file count. Readers of prior versions still see the old dirs
    * until [[vacuum]].
    *
    * Conflict semantics (round 15): compaction is read-modify-write —
    * its output is a copy of ONE specific snapshot — but it is also
    * content-PRESERVING, so the logical re-check ([[publishRebasing]])
    * lets it land past winners that only ADDED dirs: the packed dir
    * replaces exactly the dirs it read, the winners' new dirs stay
    * live next to it (Delta's OPTIMIZE-past-appends). A winner that
    * removed, rewrote, dv'd, or eq-deleted into a dir the compaction
    * read still throws [[CommitConflict]] — a blind `commit(...,
    * "overwrite")` rebase there would be a LOST UPDATE, publishing the
    * stale packed copy over that writer's effect. On a genuine
    * conflict the caller re-reads and retries the whole compaction —
    * compaction is maintenance, losing to real rewrites is the cheap
    * outcome; under steady APPEND traffic (the streaming-sink shape)
    * it now always lands.
    *
    * If every live dir carries a stats sidecar on the same column, the
    * packed dir re-derives that sidecar so merge/read pruning survives
    * compaction.
    *
    * A table with nothing to pack ([[isPacked]]) is a no-op returning
    * `base`: no job and no commit (Delta's OPTIMIZE of a compacted table).
    */
  def compact(spark: SparkSession, tableDir: String, targetFiles: Int): Long = {
    val base = latestVersion(tableDir)
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    val snap = snapshot(tableDir, base)
    if (isPacked(tableDir, snap, targetFiles)) return base
    // preserve pruning metadata: only if ALL live dirs agree on a stats
    // column is the packed dir's recomputed sidecar sound
    val df = read(spark, tableDir, Some(base)).coalesce(targetFiles)
    val statsCol = snap.live.flatMap(statsOf(tableDir, _)).map(_._1).distinct match {
      case Seq(c) if snap.live.forall(d => statsOf(tableDir, d).isDefined) &&
                     df.columns.contains(c) && longStatsable(df, c) => Some(c)
      case _ => None
    }
    val staged = stage(df, tableDir, statsCol)
    // content-preserving maintenance rebases past pure appends: the
    // winners' new dirs simply stay live next to the packed dir
    publishRebasing(tableDir, snap, "compact", snap.live.toSet, Seq(staged),
      snap.live.toSet, AddsIgnored, None)
  }

  /** Whether [[compact]] would only copy `snap`: its one live dir is the
    * table's own (not a shallow clone's reference) and holds at most
    * `targetFiles` parquet files, no deletion vector or equality delete is
    * left to materialize, and the dir was written under the current
    * schema — its `.cols` era on a table with field ids, else its footer's
    * columns (an added column is not backfilled yet). Driver metadata
    * only: a listing and at most one footer. */
  private def isPacked(tableDir: String, snap: Snapshot, targetFiles: Int): Boolean =
    snap.live match {
      case Seq(d) if !d.contains('/') && snap.dvs.isEmpty && snap.eqs.isEmpty =>
        val files = Option(new File(dataDir(tableDir), d).listFiles()).getOrElse(Array.empty[File])
          .filter(_.getName.endsWith(".parquet"))
        files.length <= targetFiles && snap.schema.map(structOf).forall { cur =>
          val names = cur.fieldNames.toSeq
          if (snap.fids.nonEmpty)
            colsOf(tableDir, d).contains((cur.catalogString, names.map(snap.fids.getOrElse(_, -1))))
          else files.headOption.forall(f => Tables.parquetColumnNames(f) == names)
        }
      case _ => false
    }

  /** PARTITION-SCOPED compaction (Delta's `OPTIMIZE … WHERE`): rewrite
    * ONLY the dirs carrying `partCol = value` into one bin-packed dir;
    * every other partition keeps its dirs BYTE-UNTOUCHED. The 100 TB
    * maintenance shape — "compact today's partition after the load"
    * pays proportional to the partition, never the table ([[compact]]
    * rewrites everything). Reads the targets THROUGH their deletion
    * vectors (materializing that partition's dv debt away), re-stamps
    * the `.part` sidecar so partition pruning survives, and publishes
    * at base+1 with [[CommitConflict]] semantics. A no-match value is
    * a no-op returning `base` (one manifest read, no commit). */
  def compactPartition(spark: SparkSession, tableDir: String, partCol: String,
                       value: String, targetFiles: Int = 1): Long = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val base = latestVersion(tableDir)
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    val snap = snapshot(tableDir, base)
    val targets = snap.live.filter(d => snap.parts.get(d)
      .exists { case (c, pv) => c == partCol && pv == value })
    if (targets.isEmpty) return base
    val df = readDirsDV(spark, tableDir, snap, targets).coalesce(targetFiles)
    val staged = stage(df, tableDir, None)
    val dest = new File(dataDir(tableDir), staged)
    requirePartValueCharset(value)
    Files.write(new File(dest, ".part").toPath,
      s"$partCol=$value".getBytes("UTF-8"))
    publishRebasing(tableDir, snap, "compactPartition", targets.toSet,
      Seq(staged), targets.toSet, AddsIgnored, None)
  }

  /** INCREMENTAL compaction targeting deletion-vector debt (the Delta
    * REORG TABLE ... APPLY (PURGE) shape): rewrite ONLY the dirs whose
    * dv'd-row share meets `minDvRatio`, materializing their deletion
    * vectors away; every clean dir keeps its place in the live set
    * BYTE-UNTOUCHED. [[compact]] rewrites the whole table — fine
    * nightly at GB scale, non-viable at 100 TB, where maintenance must
    * pay proportional to the DEBT (the scan-time anti-join rent dv'd
    * files accrue), not to table size. Each dirty dir rewrites to its
    * own staged dir READ THROUGH its dv, preserving the layout
    * contracts: multi-column stats sidecars re-derive (clustered
    * tables keep their pruning power), partition values carry over
    * (partitioned tables stay partitioned), a fully-doomed dir simply
    * drops from the live set, blooms rebuild via [[stage]]. The
    * constraint gate re-vets nothing new (the rows were already in the
    * table and `stage` re-checks anyway — rewrites of valid data
    * pass). Returns `base` UNCHANGED (no commit) when no dir meets the
    * bar — a no-debt table costs one manifest read. Same base+1 /
    * [[CommitConflict]] contract as [[compact]]. */
  def compactDirty(spark: SparkSession, tableDir: String,
                   minDvRatio: Double = 0.0): Long = {
    import org.apache.spark.sql.functions.{col, max, min}
    require(minDvRatio >= 0.0 && minDvRatio <= 1.0,
      s"minDvRatio must be in [0, 1], got $minDvRatio")
    val base = latestVersion(tableDir)
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    val snap = snapshot(tableDir, base)
    val dirty = snap.live.filter(d => snap.dvs.get(d).exists { dv =>
      (snap.nrows.get(d), snap.nrows.get(dv)) match {
        case (Some(t), Some(x)) if t > 0L => x.toDouble / t >= minDvRatio
        case _                            => true // unknown counts: rewrite
      }
    })
    if (dirty.isEmpty) return base // no debt — nothing to commit
    val staged = dirty.flatMap { d =>
      val df = readDirsDV(spark, tableDir, snap, Seq(d))
      val statCols = statsAllOf(tableDir, d).map(_._1)
        .filter(c => df.columns.contains(c) && longStatsable(df, c))
      // a fully-doomed dir stages nothing and drops from the live set
      stageNonEmpty(df, tableDir, statCols.headOption).map { s =>
        // re-derive the REMAINING stats columns (Z-ordered dirs carry
        // two) so clustering's pruning power survives the purge
        if (statCols.size > 1) {
          val back = spark.read.schema(df.schema)
            .parquet(new File(dataDir(tableDir), s).getPath)
          val aggs = statCols.tail.flatMap(c =>
            Seq(min(longProj(back, c)), max(longProj(back, c))))
          val r = back.agg(aggs.head, aggs.tail: _*).head()
          val extra = statCols.tail.zipWithIndex.collect {
            case (c, i) if !r.isNullAt(2 * i) =>
              s"$c:${r.getLong(2 * i)}:${r.getLong(2 * i + 1)}"
          }
          if (extra.nonEmpty) {
            val f = new File(new File(dataDir(tableDir), s), ".stats")
            val head = if (f.exists())
              new String(Files.readAllBytes(f.toPath), "UTF-8") + "\n" else ""
            Files.write(f.toPath, (head + extra.mkString("\n")).getBytes("UTF-8")): Unit
          }
        }
        // a partitioned dir's rewrite keeps its partition value
        partOf(tableDir, d).foreach { case (c, v) =>
          Files.write(new File(new File(dataDir(tableDir), s), ".part").toPath,
            s"$c=$v".getBytes("UTF-8")): Unit
        }
        s
      }
    }
    // the dirty dirs' dvs die with them automatically: tryPublish keeps
    // only dv entries whose dir is still live
    publishRebasing(tableDir, snap, "compact", dirty.toSet, staged,
      dirty.toSet, AddsIgnored, None)
  }

  /** CLUSTERED compaction: rewrite the latest snapshot into up to
    * `targetDirs` staged dirs RANGE-CLUSTERED on `clusterCol` (the 1-D
    * analogue of Delta's OPTIMIZE ZORDER BY), each carrying its own
    * min/max stats sidecar, published as ONE atomic commit at `base+1`.
    *
    * Compaction changes PRUNING POWER, not content: dirs written by
    * interleaved appends each span the full key range, so manifest-stats
    * skipping ([[pruneLive]]/[[readRange]]) keeps every dir; after
    * clustering, a range predicate plans ~(selectivity × targetDirs)
    * dirs. At 100 TB this is the maintenance action that keeps point
    * and range reads proportional to the data they touch — Delta and
    * Iceberg both make it a first-class command for the same reason.
    *
    * Mechanics: one range shuffle (`repartitionByRange` — Spark samples
    * the key distribution, so dirs are balanced even under skew), each
    * range partition lands as its own dir via a path-only bucket column
    * (`partitionBy` keeps it out of the data files), dirs are MOVEd into
    * the data area (rename, not copy), and min/max per dir is one
    * parquet-footer aggregate. Same conflict contract as [[compact]]:
    * publish only at base+1, [[CommitConflict]] if the slot is taken;
    * losers leave orphan dirs for [[vacuum]].
    */
  def compactClustered(spark: SparkSession, tableDir: String,
                       clusterCol: String, targetDirs: Int): Long =
    compactClustered(spark, tableDir, Seq(clusterCol), targetDirs)

  /** Multi-key variant: 2 keys cluster on their Z-ORDER value — each key
    * is uniform-bucketed to 10 bits over its own [min, max] (one agg),
    * the bit patterns interleave into a 20-bit curve position, and the
    * range shuffle runs on that. Locality on the space-filling curve
    * gives BOTH keys tight per-dir bounds, so a range predicate on
    * EITHER column prunes — the property 1-D clustering cannot provide
    * for the second key (its per-dir bounds stay full-range). Bounds
    * for every cluster key land in the sidecar (one `c:lo:hi` line
    * each) and the manifest (";"-joined), and [[pruneLive]] consults
    * whichever column the predicate names. This is Delta's OPTIMIZE
    * ZORDER BY mechanism: bucketing by sampled quantiles there, uniform
    * min/max here (the testdata keys are dense; production would sample).
    */
  def compactClustered(spark: SparkSession, tableDir: String,
                       clusterCols: Seq[String], targetDirs: Int): Long = {
    import org.apache.spark.sql.functions.{col, lit, max, min, shiftleft, shiftright, spark_partition_id}
    require(targetDirs >= 1, "targetDirs must be >= 1")
    require(clusterCols.nonEmpty && clusterCols.size <= 2,
      s"1 or 2 cluster keys supported, got ${clusterCols.size}")
    val base = latestVersion(tableDir)
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    val baseSnap = snapshot(tableDir, base)
    val df = read(spark, tableDir, Some(base))
    clusterCols.foreach { c =>
      require(df.columns.contains(c), s"no column $c")
      require(isIntegral(df, c), s"cluster key $c must be an integral type")
    }
    val clustered = clusterCols match {
      case Seq(c) => df.repartitionByRange(targetDirs, col(c))
      case Seq(c1, c2) =>
        val b = df.agg(
          min(col(c1).cast("long")), max(col(c1).cast("long")),
          min(col(c2).cast("long")), max(col(c2).cast("long"))).head()
        // no non-null values on a key (e.g. a delete emptied the
        // table): no curve to build — degrade to 1-D range clustering
        if (b.isNullAt(0) || b.isNullAt(2))
          return compactClustered(spark, tableDir, c1, targetDirs)
        def bucket(c: String, lo: Long, hi: Long) =
          ((col(c).cast("long") - lit(lo)) * 1024L / lit(hi - lo + 1L)).cast("long")
        val (b1, b2) = (bucket(c1, b.getLong(0), b.getLong(1)),
                        bucket(c2, b.getLong(2), b.getLong(3)))
        // 20-bit Z-value: interleave the two 10-bit bucket ids
        val z = (0 until 10).foldLeft(lit(0L)) { (acc, i) =>
          acc + shiftleft(shiftright(b1, i).bitwiseAND(lit(1L)), 2 * i + 1) +
            shiftleft(shiftright(b2, i).bitwiseAND(lit(1L)), 2 * i)
        }
        df.withColumn("_z", z).repartitionByRange(targetDirs, col("_z")).drop("_z")
    }
    val tmp = new File(dataDir(tableDir), s".cluster-${UUID.randomUUID()}")
    clustered
      .withColumn("_bucket", spark_partition_id())
      .write.partitionBy("_bucket").parquet(tmp.getPath)
    val staged = Option(tmp.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.startsWith("_bucket="))
      .sortBy(_.getName.stripPrefix("_bucket=").toInt)
      .map { b =>
        // in-place mode (object stores): publish the bucket leaf by
        // relative reference instead of renaming it into data/
        val (name, dest) =
          if (inPlaceData(tableDir)) (s"${tmp.getName}/${b.getName}", b)
          else {
            val nm = s"txn-${UUID.randomUUID()}"
            val d = new File(dataDir(tableDir), nm)
            Files.move(b.toPath, d.toPath, StandardCopyOption.ATOMIC_MOVE)
            (nm, d)
          }
        val packed = spark.read.schema(df.schema).parquet(dest.getPath)
        import org.apache.spark.sql.functions.{count, lit}
        val aggs = count(lit(1)) +: clusterCols.flatMap(c =>
          Seq(min(col(c).cast("long")), max(col(c).cast("long"))))
        val r = packed.agg(aggs.head, aggs.tail: _*).head()
        val lines = clusterCols.zipWithIndex.collect {
          case (c, i) if !r.isNullAt(2 * i + 1) =>
            s"$c:${r.getLong(2 * i + 1)}:${r.getLong(2 * i + 2)}"
        }
        if (lines.nonEmpty)
          Files.write(new File(dest, ".stats").toPath,
            lines.mkString("\n").getBytes("UTF-8")): Unit
        Files.write(new File(dest, ".nrows").toPath,
          r.getLong(0).toString.getBytes("UTF-8"))
        // era sidecar: clustered dirs are written under the CURRENT
        // schema — the rewrite materializes any rename/drop/widen
        if (baseSnap.fids.nonEmpty &&
            packed.schema.fieldNames.forall(baseSnap.fids.contains)) {
          Files.write(new File(dest, ".cols").toPath,
            (packed.schema.catalogString + "\n" +
              packed.schema.fieldNames.map(baseSnap.fids).mkString(" "))
              .getBytes("UTF-8")): Unit
        }
        name
      }.toSeq
    // in-place mode keeps the tmp root: its bucket leaves are the
    // published data (Spark's root-level _SUCCESS marker is removed so
    // only data leaves remain; a lost commit race below leaves them
    // unreferenced for vacuum's orphan sweep)
    if (inPlaceData(tableDir)) {
      new File(tmp, "_SUCCESS").delete(): Unit
    } else deleteRec(tmp)
    // an empty table (a delete removed every row) clusters to an empty
    // live set — content-identical, like any compaction
    publishRebasing(tableDir, baseSnap, "compact", baseSnap.live.toSet,
      staged, baseSnap.live.toSet, AddsIgnored, None)
  }

  /** SHALLOW CLONE (Delta CREATE TABLE ... SHALLOW CLONE): spin up a
    * NEW independent table whose v0 manifest REFERENCES the source
    * snapshot's data dirs — zero data copied, O(manifest) at any
    * scale; at 100 TB a dev/test fork of a production table is one
    * metadata write. References are stored as dir entries RELATIVE to
    * the clone's own `data/` root (`../../src/data/txn-…`), so every
    * existing read/maintenance path resolves them with no special
    * casing: stats/parts/nrows sidecars re-fold into the clone's
    * manifest (pruning works unchanged), dvs carry over as references,
    * and the source's CHECK constraints and evolved DDL ride into the
    * clone's v0 (forks inherit governance; [[dropConstraint]] opts
    * out explicitly). The tables then diverge freely: clone writes
    * stage LOCAL dirs; a copy-on-write rewrite or [[compact]] of the
    * clone MATERIALIZES referenced data locally (un-shallowing it,
    * exactly Delta's behavior); the clone's [[vacuum]] only ever
    * deletes its own `data/` children, so it can never reap source
    * files. The one real caveat is Delta's own: the SOURCE's vacuum
    * does not know about clones — vacuuming the source past the cloned
    * snapshot breaks the clone's un-materialized references (document,
    * don't vacuum a cloned-from snapshot away, or compact the clone
    * first). Cloning a historical `version` forks the past without
    * disturbing the source's latest. */
  def cloneTable(spark: SparkSession, srcDir: String, destDir: String,
                 version: Option[Long] = None): Long = {
    require(latestVersion(destDir).isEmpty,
      s"clone target $destDir already has commits")
    val srcV = version.getOrElse(latestVersion(srcDir)
      .getOrElse(throw new IllegalStateException(s"no commits at $srcDir")))
    val snap = snapshot(srcDir, srcV) // typed RetentionError if vacuumed
    dataDir(destDir).mkdirs(); logDir(destDir).mkdirs()
    val from = dataDir(destDir).toPath.toAbsolutePath.normalize
    val to = dataDir(srcDir).toPath.toAbsolutePath.normalize
    val rel = from.relativize(to).toString
    def ref(d: String) = s"$rel/$d"
    // the clone's write-enforcement schema = the source's EFFECTIVE
    // schema (manifest-carried post-evolution DDL wins over _schema)
    snap.schema.orElse {
      val f = new File(srcDir, "_schema")
      if (f.exists()) Some(new String(Files.readAllBytes(f.toPath), "UTF-8"))
      else None
    }.foreach(ddl => Files.write(new File(destDir, "_schema").toPath,
      ddl.getBytes("UTF-8")): Unit)
    if (!tryPublish(destDir, 0L, "clone", snap.live.map(ref), txnId = None,
        dvs = snap.dvs.map { case (d, dv) => ref(d) -> ref(dv) },
        schema = snap.schema,
        constraintsOverride = Some(snap.constraints),
        ptransOverride = Some(snap.ptrans),
        gensOverride = Some(snap.gens),
        eqsOverride = Some(snap.eqs.map { case (e, (cols, ds)) =>
          ref(e) -> ((cols, ds.map(ref))) }),
        // field ids + numbering lineage ride into the clone (referenced
        // dirs' .cols sidecars resolve through the relative refs)
        fidsOverride = Some(snap.fids),
        schema0Override = Some(snap.schema0),
        fhwmFloor = snap.fhwm,
        // table properties ride into the clone like constraints — the
        // fork keeps the source's layout/maintenance policy until its
        // own ALTER overrides it
        propsOverride = Some(snap.props)))
      throw new CommitConflict(s"concurrent commit at version 0 of $destDir")
    0L
  }

  /** RESTORE TABLE TO VERSION: make `toVersion`'s content the latest,
    * as a NEW commit — history is append-only, so the restore is itself
    * audited in [[history]] (action "restore") and the undone versions
    * stay time-travelable until vacuumed (Delta's RESTORE semantics).
    * METADATA-ONLY: the new manifest references the old version's dirs
    * — zero data copied, zero rows moved, O(manifest) at any scale —
    * and re-folds their stats/parts/nrows sidecars, so pruning works on
    * the restored snapshot unchanged. [[vacuum]] then protects those
    * dirs: they are referenced by a retained manifest again. Restoring
    * across an explicit schema evolution also reverts `_schema` (to the
    * target's manifest schema; from the restored dirs' parquet footers
    * when the target manifest predates recorded schemas).
    * The target must still be retained ([[RetentionError]] otherwise);
    * publishes only at base+1 ([[CommitConflict]] if taken). */
  def restore(spark: SparkSession, tableDir: String, toVersion: Long,
              txnId: Option[String] = None): Long = {
    txnId.flatMap(findTxn(tableDir, _)) match {
      case Some(v) => return v // replayed restore
      case None    =>
    }
    val base = latestVersion(tableDir)
      .getOrElse(throw new IllegalStateException(s"no commits at $tableDir"))
    val target = snapshot(tableDir, toVersion) // RetentionError if vacuumed
    // the field-id numbering lineage is permanent: restoring to a
    // pre-minting version would un-mint ids that post-minting dirs'
    // `.cols` sidecars already use — a later re-mint would re-number
    // and silently mis-resolve them. Restore within the fids era (ids
    // revert with the manifest) or to another pre-minting version.
    require(snapshot(tableDir, base).fids.isEmpty || target.fids.nonEmpty,
      s"cannot restore $tableDir to v$toVersion: it predates field-id " +
        "minting (rename/drop/widen); restore to a post-minting version " +
        "or compact first")
    // the target's manifest schema; a target that carries none infers
    // it from its dirs' parquet footers
    target.schema.orElse(
      if (target.live.isEmpty) None
      else Some(spark.read.parquet(
        target.live.map(d => new File(dataDir(tableDir), d).getPath): _*)
        .schema.catalogString)
    ).foreach(ddl =>
      Files.write(new File(tableDir, "_schema").toPath, ddl.getBytes("UTF-8")))
    if (!tryPublish(tableDir, base + 1L, "restore", target.live, txnId,
        dvs = target.dvs, schema = target.schema,
        eqsOverride = Some(target.eqs),
        fidsOverride = Some(target.fids),
        schema0Override = Some(target.schema0)))
      throw new CommitConflict(
        s"concurrent commit at version ${base + 1}; re-read and retry the restore")
    maybeCheckpoint(tableDir, base + 1L)
    base + 1L
  }

  /** Age-based retention: drop every version whose commit timestamp
    * predates `cutoffMs` (always keeping at least the latest), then
    * reap unreferenced dirs — the production policy ("7 days of time
    * travel") on top of the count-based [[vacuum]]. Pre-timestamp
    * manifests (ts=0) count as infinitely old. */
  def vacuumOlderThan(tableDir: String, cutoffMs: Long): Unit = {
    val vs = versions(tableDir)
    if (vs.isEmpty) return
    val keepFrom = vs.indexWhere(v => snapshot(tableDir, v).ts >= cutoffMs) match {
      case -1 => vs.length - 1 // everything is older: keep just the latest
      case i  => i
    }
    vacuum(tableDir, retain = vs.length - keepFrom)
  }

  /** What [[vacuum]] WOULD do, without doing it: (manifest versions to
    * drop, LOCAL data dirs to reap). The production pre-flight — at
    * 100 TB nobody deletes files without reviewing the list first
    * (Delta's VACUUM ... DRY RUN). Metadata-only: retained manifests +
    * one directory listing, zero data reads. */
  // ---- named refs: TAGS (round 15, the Iceberg ref surface) ----
  // A tag is a named, immutable pointer to one committed version,
  // stored as `_log/_refs/<name>` (put-if-absent — create races have
  // one winner). Tags PIN retention: vacuum keeps every tagged
  // version's manifest chain and data dirs no matter how the newest-N
  // window moves, so "release-2026-08" stays time-travelable forever
  // until the tag is dropped — at which point the next vacuum reaps it
  // like any out-of-window version. Readers resolve tags wherever a
  // version is accepted: `VERSION AS OF 'name'` (SQL), the
  // `versionAsOf` reader option, or [[resolveTag]] + [[read]].
  private def refsDir(tableDir: String) = new File(logDir(tableDir), "_refs")
  private def refFile(tableDir: String, name: String) =
    new File(refsDir(tableDir), name)

  /** Create tag `name` at `version` (default: the current head). The
    * target must be a readable snapshot NOW (typed RetentionError /
    * IllegalArgumentException otherwise); the tag is immutable — drop
    * and recreate to move it. Returns the pinned version. */
  def createTag(tableDir: String, name: String,
                version: Option[Long] = None): Long = {
    require(name.matches("[A-Za-z_][A-Za-z0-9._-]*"),
      s"tag name '$name' must be identifier-shaped ([A-Za-z0-9._-])")
    val v = version.getOrElse(latestVersion(tableDir).getOrElse(
      throw new IllegalStateException(s"no commits at $tableDir")))
    snapshot(tableDir, v): Unit // must be readable at create time
    refsDir(tableDir).mkdirs()
    if (!store(tableDir).putIfAbsent(refFile(tableDir, name),
        v.toString.getBytes("UTF-8")))
      throw new IllegalArgumentException(
        s"tag '$name' already exists at $tableDir (tags are immutable — " +
          "drop it first to re-point)")
    v
  }

  /** Drop tag `name`; its version rejoins normal retention and the next
    * vacuum may reap it. Returns whether the tag existed. */
  def deleteTag(tableDir: String, name: String): Boolean = {
    val f = refFile(tableDir, name)
    val existed = store(tableDir).exists(f)
    store(tableDir).delete(f)
    existed
  }

  /** Every tag, name → pinned version. */
  def listTags(tableDir: String): Map[String, Long] =
    store(tableDir).list(refsDir(tableDir)).flatMap { n =>
      store(tableDir).readBytes(refFile(tableDir, n))
        .flatMap(b => new String(b, "UTF-8").trim.toLongOption).map(n -> _)
    }.toMap

  def resolveTag(tableDir: String, name: String): Option[Long] =
    store(tableDir).readBytes(refFile(tableDir, name))
      .flatMap(b => new String(b, "UTF-8").trim.toLongOption)

  /** Whether `version` is pinned by some tag — consulted ONLY when a
    * read lands below the retention floor (tagged versions stay
    * readable there; everything else answers the typed error), so the
    * refs LIST stays off every warm path. */
  private def taggedBelowFloor(tableDir: String, version: Long): Boolean =
    listTags(tableDir).values.exists(_ == version)

  /** The retain count a vacuum actually uses: the caller's argument,
    * floored at 1 and at the manifest-carried `graft.minRetainVersions`
    * property (round 15) — the fat-finger guard Delta ships as
    * `delta.deletedFileRetentionDuration`: an operator's `VACUUM t
    * RETAIN 0 HOURS` cannot strip a table whose policy says keep 48. */
  private def effectiveRetain(tableDir: String, retain: Int): Int =
    math.max(math.max(1, retain),
      tableProperty(tableDir, "graft.minRetainVersions")
        .flatMap(_.toIntOption).getOrElse(1))

  def vacuumDryRun(tableDir: String, retain: Int = 1,
                   orphanGraceMs: Long = 0L): (Seq[Long], Seq[String]) = {
    val vs = versions(tableDir)
    val eff = effectiveRetain(tableDir, retain)
    val window = vs.drop(math.max(0, vs.length - eff))
    // TAGGED versions pin retention OUTSIDE the newest-N window (round
    // 15): their manifests, reconstruction chains, and data dirs all
    // survive until the tag is dropped. Retention becomes
    // non-contiguous — islands below the window — which the read path
    // types correctly (tagged below-floor reads work; reaped middles
    // answer RetentionError).
    val tagged = listTags(tableDir).values.toSeq.distinct
      .filter(v => store(tableDir).exists(manifestFile(tableDir, v)))
    val keep = (window ++ tagged.filterNot(window.contains)).sorted
    // CHAIN GUARD (round 13): the oldest retained version may be an
    // INCREMENTAL manifest whose reconstruction walks back to an anchor
    // (a columnar checkpoint or a self-contained manifest) — every
    // manifest on that walk must survive the vacuum even though its
    // version is formally out of retention. Kept-for-chain manifests
    // are log metadata only (the retention FLOOR hides them from
    // versions()/snapshot()); their unreferenced DATA dirs still reap
    // below, and they become deletable once a newer anchor supersedes
    // them (rawVersions sweeps chain-kept files from earlier vacuums).
    // Window members above the head share its chain coverage (anchors
    // are monotone along the log); each tagged ISLAND below keeps its
    // own chain.
    val drop = window.headOption match {
      case Some(r) =>
        val (anchor, byCkpt) = anchorOf(tableDir, r)
        val chainFloor = if (byCkpt) anchor + 1 else anchor
        val pinned: Set[Long] = tagged.filter(_ < chainFloor).flatMap { tv =>
          val (a, bc) = anchorOf(tableDir, tv)
          val lo = if (bc) a + 1 else a
          lo to tv
        }.toSet
        rawVersions(tableDir).filter(v => v < chainFloor && !pinned(v))
      case None => Seq.empty[Long]
    }
    val referenced = keep.flatMap { v =>
      val sn = snapshot(tableDir, v)
      sn.live ++ sn.dvs.values ++ sn.eqs.keys // dv/eq dirs are data too —
    }.toSet                                   // retained reads depend on them
    val cutoff = System.currentTimeMillis() - math.max(0L, orphanGraceMs)
    // nested in-place references (`.bulk-x/leaf`, round 14) guard their
    // top-level ROOT; inside a root that still holds a referenced leaf,
    // reaping drops to LEAF granularity — a replaced partition's old
    // leaf reclaims without waiting for its siblings, and a root whose
    // last referenced leaf goes is reaped whole on the next pass (only
    // its `_SUCCESS` marker remains by then). Clone's `../` references
    // never match a listed child, as before. The mtime grace protects
    // an in-flight writer's fresh staging dirs at either granularity.
    val refRoots = referenced.map(_.split("/")(0))
    val reap = Option(dataDir(tableDir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.isDirectory).flatMap { f =>
        if (!refRoots.contains(f.getName)) {
          if (f.lastModified() <= cutoff) Seq(f.getName) else Nil
        } else if (referenced.contains(f.getName)) Nil // flat live dir
        else // in-place root with referenced leaves: reap stale siblings
          Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq
            .filter(c => c.isDirectory &&
              !referenced.contains(s"${f.getName}/${c.getName}") &&
              c.lastModified() <= cutoff)
            .map(c => s"${f.getName}/${c.getName}")
      }.toSeq.sorted
    (drop, reap)
  }

  /** Drop manifests older than the newest `retain` versions, then delete
    * every LOCAL data dir no retained manifest references — including
    * orphans staged by crashed writers. `orphanGraceMs` protects
    * freshly-staged dirs whose writer has not published yet (Delta's
    * VACUUM retention-hours guard, the default 0 suits quiesced-table
    * tests); [[vacuumDryRun]] previews both lists. Clone-referenced
    * source dirs are inherently safe: only this table's own `data/`
    * children are ever listed. */
  def vacuum(tableDir: String, retain: Int = 1, orphanGraceMs: Long = 0L): Unit = {
    val vs = versions(tableDir)
    if (vs.isEmpty) return
    val (drop, reap) = vacuumDryRun(tableDir, retain, orphanGraceMs)
    val keepHead =
      vs.drop(math.max(0, vs.length - effectiveRetain(tableDir, retain))).headOption
    keepHead.foreach { kh =>
      // move the checkpoint pointer into the retained window FIRST: a
      // pointer naming a dropped manifest would break the forward probe
      writeCheckpoint(tableDir, kh)
      // the retention FLOOR is the read-visibility boundary — manifests
      // below it may survive as chain links, but their versions answer
      // RetentionError like any vacuumed version
      writeRetentionFloor(tableDir, kh)
    }
    drop.foreach(v => store(tableDir).delete(manifestFile(tableDir, v)))
    reap.foreach(d => deleteRec(new File(dataDir(tableDir), d)))
    // columnar dir-entry checkpoints below the kept window's anchor are
    // unreachable (no retained reconstruction can start from them) —
    // EXCEPT a tagged island's own checkpoint anchor (round 15), which
    // that island's reconstruction still starts from
    keepHead.foreach { kh =>
      val (anchor, _) = anchorOf(tableDir, kh)
      val taggedAnchors: Set[Long] = listTags(tableDir).values.toSeq.distinct
        .filter(tv => store(tableDir).exists(manifestFile(tableDir, tv)))
        .flatMap { tv =>
          val (a, bc) = anchorOf(tableDir, tv)
          if (bc) Some(a) else None
        }.toSet
      store(tableDir).list(logDir(tableDir))
        .filter(n => n.startsWith("ckpt-v") && n.endsWith(".parquet"))
        .foreach { n =>
          n.stripPrefix("ckpt-v").stripSuffix(".parquet").toLongOption
            .filter(v => v < anchor && !taggedAnchors.contains(v))
            .foreach(_ => store(tableDir).delete(new File(logDir(tableDir), n)))
        }
    }
    // evict pre-vacuum snapshots so below-floor reads re-check the floor
    clearSnapshotCache()
  }

  /** The reconstruction ANCHOR of version `v`: the version whose state
    * is recoverable without walking further back — `v` itself for a
    * self-contained manifest, else the nearest older version with a
    * materialized [[TxnCheckpoint]] (`byCkpt = true`) or a
    * self-contained manifest. Vacuum must retain manifests above (and,
    * for a checkpoint anchor, the checkpoint file of) this floor. */
  private def anchorOf(tableDir: String, v: Long): (Long, Boolean) = {
    var w = v
    var t = store(tableDir).readBytes(manifestFile(tableDir, v)) match {
      case Some(b) => decodeManifest(manifestFile(tableDir, v), b)
      case None    => return (v, false)
    }
    while (incBaseOf(t).isDefined) {
      w -= 1
      if (TxnCheckpoint.exists(tableDir, w)) return (w, true)
      store(tableDir).readBytes(manifestFile(tableDir, w)) match {
        case Some(b) => t = decodeManifest(manifestFile(tableDir, w), b)
        case None    => return (w, false) // chain already broken below
      }
    }
    (w, false)
  }

  private def deleteRec(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRec)
    f.delete(): Unit
  }
}

package graft.operators

import java.util.concurrent.{ConcurrentHashMap, ScheduledFuture,
  ScheduledThreadPoolExecutor, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import java.util.concurrent.locks.ReentrantLock

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.slf4j.LoggerFactory

/** Per-store serialization of EVERY store writer — appends, builds,
  * compacts, retrains, deletions ([[Tombstones.delete]],
  * [[NegEpochs.writeDeletion]]), residue gc, and the persisted ledgers'
  * epoch numbering. Round 12 enforced the deletion half in-process;
  * this is the whole single-writer contract as mechanism: every
  * epoch-numbering read-modify-write and every whole-store swap runs
  * under the same per-store lock, so nothing is left to prose. Two
  * layers:
  *
  *  - IN-PROCESS: one [[ReentrantLock]] per canonical store path, FAIR
  *    (a takedown queued behind a long compact runs next, not starved).
  *    Waiters block up to `waitMs` and then fail LOUDLY — a wedged lock
  *    is an operational bug, not something to race past. The key is the
  *    filesystem-QUALIFIED path (`fs.makeQualified`), so `file:/data/idx`
  *    and `/data/idx` spelled by two different lanes map to the SAME
  *    lock — an unqualified-string key would silently bypass the
  *    serialization for differently-spelled paths to one store.
  *  - CROSS-PROCESS: a filesystem marker LEASE, `<store>.lease` beside
  *    the store dir (a sibling, like the swap baks, so a whole-store
  *    swap never renames it away). Taken at the outermost `withLock`
  *    entry, released at exit; while held, a daemon heartbeat refreshes
  *    its mtime every expiry/3, so a live holder's lease never goes
  *    stale under it. A SECOND DRIVER on the same store lineage — the
  *    first thing a horizontally-scaled fleet does — now gets a loud
  *    refusal naming the current owner on every write path, instead of
  *    racing everything but the [[NegEpochs.applyWithSwap]]
  *    staged-snapshot backstop (which stays: the lease is advisory
  *    against a writer that does not take it). A lease whose mtime is
  *    older than the expiry is a CRASHED holder's residue and is taken
  *    over (the heartbeat proves liveness; only death stops it) — and a
  *    SAME-HOST owner whose pid the kernel reports dead is taken over
  *    immediately, so a restarted driver is not locked out of its own
  *    stores for a full expiry.
  *
  * The lease file is content-addressed to its owner
  * (`pid@host/pidns#nonce`), so takeover and reentrant re-acquire can
  * tell "mine" from "foreign" without trusting timing alone — and the
  * dead-pid fast takeover only trusts a kernel that is provably the
  * SAME authority (host + pid-namespace match).
  */
private[graft] object StoreLock {
  private val log = LoggerFactory.getLogger(getClass)

  /** A second writer refused on a FRESH foreign lease — its own type so
    * callers that can legitimately wait out a short hold (the audit
    * ledger's one-small-parquet write) can retry with backoff without
    * also retrying the unrelated refusal shapes (wedged in-process lock,
    * takeover re-create contention). */
  final class LeaseHeldException(msg: String) extends IllegalStateException(msg)

  /** A publish was FENCED: the calling writer's lease was lost mid-hold
    * (takeover past a GC pause, operator action, mis-tuned expiry) and
    * the destructive rename/delete was refused before touching the live
    * store. The new owner's epochs are intact; this writer's work is
    * staged residue the next fsck gc reclaims. */
  final class LeaseLostException(msg: String) extends IllegalStateException(msg)

  private val locks = new ConcurrentHashMap[String, ReentrantLock]()
  /** Outermost-entry depth per canonical path; mutated only while the
    * path's ReentrantLock is held, so plain puts are race-free. */
  private val depths = new ConcurrentHashMap[String, Integer]()
  private val heartbeats =
    new ConcurrentHashMap[String, (ScheduledFuture[_], AtomicBoolean)]()

  /** Live holds by canonical store path — the publish-fence registry.
    * `lost` flips (sticky) when the heartbeat observes the hold lost:
    * a FOREIGN owner under our lease name, or a refresh whose re-create
    * lost the re-create race. [[fence]] checks it (plus a fresh
    * ownership read) immediately before every destructive publish op,
    * so a usurped writer fails loudly instead of landing stale renames
    * over the new owner's epochs — the lease-without-fencing gap. */
  private final class Hold(val fs: FileSystem, val store: Path) {
    val lost = new AtomicBoolean(false)
  }
  private val holds = new ConcurrentHashMap[String, Hold]()

  private val LocalHost: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: Exception => "localhost" }

  /** This process's PID-NAMESPACE identity (the inode of
    * /proc/self/ns/pid): the authority scope of a "that pid is dead"
    * verdict. A hostname alone is NOT that scope — two containers can
    * share a hostname (or both fall back to "localhost") while holding
    * separate pid namespaces, and a pid dead in OURS may be a live
    * holder in THEIRS. Empty on non-Linux → the fast-takeover path
    * disables itself and staleness falls back to expiry alone. */
  private val PidNs: String =
    try java.nio.file.Files.readSymbolicLink(
      java.nio.file.Paths.get("/proc/self/ns/pid"))
      .toString.replaceAll("[^0-9]", "")
    catch { case _: Exception => "" }

  private val NodeId: String =
    if (PidNs.isEmpty) LocalHost else s"$LocalHost/$PidNs"

  /** This process's lease identity — stable for the JVM's lifetime. */
  val OwnerId: String =
    s"${ProcessHandle.current().pid()}@$NodeId#" +
      java.util.UUID.randomUUID().toString.take(8)

  /** The lease's holder is a process in THIS pid namespace that is
    * provably dead — the fast-takeover path: a crashed driver restarted
    * by an operator (or a crashed test JVM re-run) must not lock its own
    * stores for a full expiry when the kernel can answer "is that pid
    * alive" right now. Checkable only when the owner's host AND pid
    * namespace match ours exactly (a recycled pid that happens to be
    * alive, a same-named container with its own namespace, or any
    * non-Linux host reads as live/unknown — the safe direction is
    * refusal, never takeover of a possibly-live holder). */
  private def deadLocalHolder(owner: String): Boolean = {
    val at = owner.indexOf('@')
    val hash = owner.indexOf('#')
    at > 0 && hash > at && PidNs.nonEmpty &&
      owner.substring(at + 1, hash) == NodeId &&
      owner.substring(0, at).toLongOption.exists { pid =>
        val h = ProcessHandle.of(pid)
        !h.isPresent || !h.get.isAlive
      }
  }

  /** Default lease expiry. Long enough that a paused-but-alive holder's
    * heartbeat (every expiry/3) cannot be mistaken for death under GC or
    * IO stalls; short enough that a crashed driver's store is writable
    * again without an operator.
    *
    * CLOCK-SKEW BUDGET: staleness is the takeover candidate's local
    * clock minus an mtime stamped by the HOLDER's clock, so cross-host
    * skew eats directly into the margin. A live holder's lease is at
    * most one heartbeat period (expiry/3) old at any observation, so the
    * takeover threshold is only crossed early when skew exceeds
    * expiry − expiry/3 = 2·expiry/3 (≈ 6m40s at defaults) — orders of
    * magnitude past NTP drift. Below that, skew can at worst shave the
    * post-crash recovery wait, never take over a live holder; and a
    * takeover attempt must ALSO survive the dwell re-observation
    * ([[takeoverDwellMs]]: two stale reads with an UNCHANGED mtime), so
    * a holder whose beat lands in the dwell window converts the attempt
    * into refusal. The fence ([[fence]]) is the correctness backstop if
    * both lines fail: the usurped holder's publishes refuse. */
  val DefaultLeaseExpiryMs: Long = TimeUnit.MINUTES.toMillis(10)

  /** Dwell between the two stale observations a takeover requires (the
    * lease mtime must be unchanged across both). Converts one-off skew /
    * mtime-read glitches / an in-flight refresh-REPLACE window into
    * refusal-or-retry instead of takeover of a live holder. Spec hook:
    * volatile so lease specs can shrink it, never raise it. The
    * kernel-verified same-host dead-pid path skips the dwell (the
    * verdict there is authoritative, not timing-based). */
  @volatile private[operators] var takeoverDwellMs: Long = 2000L

  /** Heartbeat capacity: each beat is 1–4 metadata ops against the
    * store's filesystem, and all held leases share this pool. The bound
    * is (held leases × beat RTT) < min(expiry)/3 per thread — at the
    * default 10-min expiry and a pessimistic 1 s object-store RTT, one
    * thread services ~200 concurrent holds. The pool grows with the
    * held-lease count (capped at 4 threads ≈ 800 such holds) so a fleet
    * driver holding many leases on a slow transport cannot back beats
    * up past expiry/3 and self-expire a live hold. */
  private val scheduler = new ScheduledThreadPoolExecutor(1,
    new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, "storelock-lease-heartbeat")
        t.setDaemon(true)
        t
      }
    })
  scheduler.setRemoveOnCancelPolicy(true)

  /** Qualify the key through the store's own filesystem so every
    * spelling of one path locks one lock. Takes the bare Hadoop
    * configuration — the lease layer has no Spark dependency, which is
    * what lets a minimal forked-JVM probe exercise the cross-process
    * protocol without paying a SparkSession startup. */
  private def canonical(conf: Configuration, storeDir: String): Path = {
    val p = new Path(storeDir)
    p.getFileSystem(conf).makeQualified(p)
  }

  private def lockFor(key: String): ReentrantLock =
    locks.computeIfAbsent(key, _ => new ReentrantLock(true))

  /** The lease marker: a SIBLING of the store dir (never renamed away by
    * the whole-store swaps; ignored by the fsck residue scanner, whose
    * patterns only recognize the registered `-tmp`/`-bak` ops). */
  private[operators] def leasePath(store: Path): Path = {
    val parent = Option(store.getParent).getOrElse(store)
    new Path(parent, store.getName + ".lease")
  }

  /** The holder's recorded lease expiry (third line, written at acquire
    * time) — the authority on THIS lease's staleness threshold. A fleet
    * tuned to a longer expiry is honored by default-tuned observers
    * (acquirers AND fsck), instead of each observer judging the lease by
    * its own local constant — the false "lease_stale — its holder
    * crashed" warns fsck used to persist every scan for live
    * longer-expiry holders. Absent/unparseable (pre-upgrade or
    * hand-planted lease) → None, observer falls back to its own. */
  private[operators] def readLeaseExpiry(fs: FileSystem, lease: Path): Option[Long] =
    FsText.read(fs, lease)
      .flatMap(_.linesIterator.drop(2).nextOption())
      .flatMap(_.trim.toLongOption)
      .filter(_ > 0)

  /** First (owner) line of the lease, None if it vanished. On the
    * non-local transport a reader can catch the window between the
    * atomic create and the content landing — an EMPTY owner is retried
    * briefly before being reported as-is (the caller then refuses with
    * "<unreadable>", a safe transient, never a takeover trigger on a
    * fresh file). */
  private def readOwner(fs: FileSystem, lease: Path): Option[String] = {
    def once: Option[String] =
      FsText.read(fs, lease)
        .map(_.linesIterator.nextOption().getOrElse(""))
    var r = once
    var reps = 0
    while (r.contains("") && reps < 3) { Thread.sleep(20); r = once; reps += 1 }
    r
  }

  /** Create the lease ATOMICALLY-IF-ABSENT with its owner content
    * already complete. Two transports:
    *
    *  - `file:` scheme: write a private temp beside the lease, then
    *    HARD-LINK it to the lease name — link(2) is atomic-if-absent on
    *    POSIX, and the content is whole before the name exists (no
    *    reader can see an empty owner line). Hadoop's local
    *    `create(overwrite = false)` is exists-check-then-open (two
    *    racing local drivers could both win) and Hadoop local `rename`
    *    REPLACES an existing dest (would clobber a live lease), so
    *    neither is usable here.
    *  - everything else (HDFS-like): `create(overwrite = false)` IS an
    *    atomic namespace operation there; the content lands before
    *    close, and [[readOwner]] tolerates the sub-close empty-read
    *    window by retrying.
    *
    * Returns false when the lease name already exists. Content lines:
    * owner id, acquirer label, the hold's expiryMs (the staleness
    * authority every observer honors — [[readLeaseExpiry]]). */
  private def writeLease(
      fs: FileSystem, lease: Path, who: String, expiryMs: Long): Boolean = {
    val bytes = s"$OwnerId\n$who\n$expiryMs\n".getBytes(
      java.nio.charset.StandardCharsets.UTF_8)
    if (fs.getScheme == "file") {
      val dir = java.nio.file.Paths.get(lease.getParent.toUri.getPath)
      java.nio.file.Files.createDirectories(dir)
      val tmp = java.nio.file.Files.createTempFile(dir, "." + lease.getName, ".claim")
      try {
        java.nio.file.Files.write(tmp, bytes)
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(lease.toUri.getPath), tmp)
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } finally { java.nio.file.Files.deleteIfExists(tmp); () }
    } else
      try {
        val out = fs.create(lease, false)
        try out.write(bytes) finally out.close()
        true
      } catch {
        case e: java.io.IOException =>
          if (!fs.exists(lease)) throw e
          false
      }
  }

  /** Acquire the cross-process lease for `store` or throw. Runs with the
    * in-process lock already held, so within this JVM there is exactly
    * one acquirer per store at a time. */
  private def acquireLease(
      fs: FileSystem, store: Path, who: String, expiryMs: Long): Unit = {
    val lease = leasePath(store)
    var takeovers = 0
    while (true) {
      if (writeLease(fs, lease, who, expiryMs)) {
        // verify-after-create: a racing stale-takeover could have
        // deleted OUR just-created lease in the window between its
        // re-verify and its delete — if the name no longer reads as
        // ours, we did not win; loop (we'll see the usurper's fresh
        // lease and refuse). Together with the verify-before-delete
        // below, the remaining overlap needs three filesystem ops to
        // land inside one metadata-read gap; the applyWithSwap
        // staged-dels re-check stays as the correctness backstop.
        if (readOwner(fs, lease).contains(OwnerId)) return
      } else readOwner(fs, lease) match {
        case Some(OwnerId) =>
          // our own residue (a release that crashed between body and
          // delete in a previous run of this same process is impossible —
          // the pid nonce is per-JVM — so this is a same-JVM re-entry
          // that slipped past the depth count, or a retried takeover):
          // refresh and proceed
          fs.setTimes(lease, System.currentTimeMillis(), -1)
          return
        case owner =>
          val observedMtime =
            try fs.getFileStatus(lease).getModificationTime
            catch { case _: java.io.FileNotFoundException => -1L }
          // staleness is judged against the HOLDER's recorded expiry
          // (the lease's third line) when present — a longer-tuned
          // fleet's live holds must not be judged by our local default
          val holderExpiry = readLeaseExpiry(fs, lease).getOrElse(expiryMs)
          val age =
            if (observedMtime < 0) Long.MaxValue
            else System.currentTimeMillis() - observedMtime
          val deadLocal = owner.exists(deadLocalHolder)
          if (age > holderExpiry || deadLocal) {
            // stale: the holder's heartbeat stopped ≥ expiry ago — a
            // crashed driver. Take over — but ONLY delete the exact
            // stale (owner, mtime) observation: two recoverers racing
            // here must not have the slower one blindly delete the
            // FRESH lease the faster one just created (the re-verify
            // immediately before the delete makes that need the lease
            // to be replaced between two adjacent metadata reads; the
            // atomic re-create then decides the winner — the loser
            // loops, reads the fresh owner, and refuses). An
            // EXPIRY-based verdict (not the kernel's dead-pid one)
            // additionally DWELLS between two observations: the mtime
            // must be unchanged across takeoverDwellMs, so a live
            // holder whose refresh or heartbeat lands mid-dwell (clock
            // skew, in-flight refresh-REPLACE) converts the takeover
            // into a loop → fresh-owner refusal.
            takeovers += 1
            if (takeovers > 5)
              throw new IllegalStateException(
                s"$who: lease takeover on $store keeps losing the " +
                  "re-create race — another process is actively " +
                  "contending this store lineage")
            if (!deadLocal && takeoverDwellMs > 0)
              Thread.sleep(takeoverDwellMs)
            val still =
              try observedMtime >= 0 &&
                fs.getFileStatus(lease).getModificationTime == observedMtime &&
                readOwner(fs, lease) == owner
              catch { case _: java.io.FileNotFoundException => false }
            if (still) { fs.delete(lease, false); () }
          } else
            throw new LeaseHeldException(
              s"$who: store $store is lease-held by process " +
                s"${owner.getOrElse("<unreadable>")} (lease age ${age}ms " +
                s"< expiry ${holderExpiry}ms) — a second store writer on " +
                "one store lineage violates the single-writer contract " +
                "refusing. If that process is dead, the lease expires " +
                s"on its own in ${math.max(0, holderExpiry - age)}ms")
      }
    }
  }

  private def releaseLease(fs: FileSystem, store: Path): Unit = {
    val lease = leasePath(store)
    // delete only our own lease: a foreign owner here means we lost it
    // to a (mis-tuned) takeover while alive — deleting theirs would
    // cascade the violation
    if (readOwner(fs, lease).contains(OwnerId)) { fs.delete(lease, false); () }
  }

  private def startHeartbeat(
      key: String, fs: FileSystem, store: Path, expiryMs: Long,
      hold: Hold): Unit = {
    val lease = leasePath(store)
    val period = math.max(1000L, expiryMs / 3)
    // `active` gates the beat against the release: cancel(false) does
    // not wait for an in-flight run(), so without the flag a beat could
    // re-create the lease AFTER releaseLease deleted it — a phantom
    // fresh lease blocking every other process for a full expiry
    val active = new java.util.concurrent.atomic.AtomicBoolean(true)
    def lostTo(other: String): Unit = {
      // FOREIGN owner under our hold: we lost the lease to a
      // (mis-tuned or racing) takeover. Never refresh it — a blind
      // setTimes would keep the usurper's lease eternally fresh even
      // after IT crashes — and never clobber it. Flip the STICKY lost
      // flag: from here every destructive publish under this store is
      // FENCED ([[fence]] → LeaseLostException), so the usurped
      // writer's staged work can never land over the new owner's
      // epochs; the applyWithSwap staged-dels re-check stays as the
      // count-store backstop. Surface it loudly too.
      hold.lost.set(true)
      log.error(
        s"lease on $store lost to $other " +
          "mid-hold — single-writer contract violated by a takeover " +
          "race or operator action; this writer's publishes are now " +
          "fenced and will fail loudly")
    }
    val task = scheduler.scheduleAtFixedRate(new Runnable {
      def run(): Unit =
        try {
          if (!active.get) return
          readOwner(fs, lease) match {
            case Some(OwnerId) =>
              val now = System.currentTimeMillis()
              try fs.setTimes(lease, now, -1)
              catch { case _: UnsupportedOperationException => () }
              // some FileSystems (object stores) implement setTimes as a
              // silent no-op — a live long-running writer's lease would
              // then "expire" under it and a second driver would legally
              // take over mid-write. Verify the refresh landed; if not,
              // refresh by REPLACE (delete + atomic re-create with our
              // content — a sub-ms absent window), then VERIFY the
              // re-create won: a foreign acquirer slipping into that
              // window is a LOST hold discovered now (not next beat),
              // and the fence blocks this writer's publishes from that
              // instant rather than after up to expiry/3 more of racing
              // hold.synchronized: the REPLACE's delete-to-create window
              // is invisible to THIS process's fence (which reads under
              // the same monitor) — without it, a publish fencing during
              // the window reads "vanished" and aborts a healthy writer
              // on exactly the setTimes-no-op stores this path serves
              if (!refreshedSince(fs, lease, now - period) && active.get)
                hold.synchronized {
                  fs.delete(lease, false)
                  writeLease(fs, lease, "heartbeat-refresh", expiryMs)
                  readOwner(fs, lease) match {
                    case Some(OwnerId) => if (!active.get) releaseLease(fs, store)
                    case Some(other) if other.nonEmpty => lostTo(other)
                    case _ => () // unreadable/empty: next beat retries
                  }
                }
            case Some(other) if other.nonEmpty => lostTo(other)
            case Some(_) => () // transient empty read: next beat retries
            case None =>
              // our lease vanished (operator rm, or the takeover race's
              // delete) — reclaim, then re-check the gate: if release
              // ran while we were recreating, delete our own recreation
              if (active.get) hold.synchronized {
                writeLease(fs, lease, "heartbeat-reclaim", expiryMs)
                if (!active.get) releaseLease(fs, store)
              }
          }
        } catch {
          // NOT just IOException: an exotic FS throwing unchecked from
          // any of the calls above must not kill the scheduled beat
          // permanently (a silently-dead heartbeat = expiry under a
          // live holder); the next beat retries whatever failed
          case scala.util.control.NonFatal(_) => ()
        }
    }, period, period, TimeUnit.MILLISECONDS)
    heartbeats.put(key, (task, active))
    // size the pool to the held-lease count (see scheduler scaladoc):
    // ~200 holds per thread at pessimistic RTTs, capped at 4 threads
    scheduler.setCorePoolSize(
      math.min(4, 1 + heartbeats.size / 200))
    ()
  }

  private def refreshedSince(fs: FileSystem, lease: Path, floor: Long): Boolean =
    try fs.getFileStatus(lease).getModificationTime >= floor
    catch { case _: java.io.FileNotFoundException => false }

  private def stopHeartbeat(key: String): Unit =
    Option(heartbeats.remove(key)).foreach { case (task, active) =>
      active.set(false)
      task.cancel(false)
      ()
    }

  /** Run `body` holding `storeDir`'s deletion-writer lock (in-process)
    * AND lease (cross-process). Reentrant (a compact's stage callback may
    * call back into locked helpers — the lease is taken/released only at
    * the outermost entry). Throws after `waitMs` of waiting on the
    * in-process lock, and on a fresh foreign lease after `leaseWaitMs`
    * of backoff-retrying it (default 0 — writers on one store lineage
    * refuse IMMEDIATELY; only short-hold shared-resource writers like
    * the audit ledger opt into waiting a contender out) — never
    * silently skips. */
  def withLock[T](spark: SparkSession, storeDir: String, who: String,
      waitMs: Long = TimeUnit.MINUTES.toMillis(10),
      leaseExpiryMs: Long = DefaultLeaseExpiryMs,
      leaseWaitMs: Long = 0L)(body: => T): T =
    withLockConf(spark.sparkContext.hadoopConfiguration, storeDir, who,
      waitMs, leaseExpiryMs, leaseWaitMs)(body)

  /** [[withLock]] off a bare Hadoop configuration — the whole lock+lease
    * protocol has no Spark dependency (metadata ops only), and taking
    * the Configuration directly lets a minimal forked JVM (the
    * cross-process lease spec's second process) exercise acquisition,
    * heartbeat, crash residue, and takeover without a SparkSession. */
  def withLockConf[T](conf: Configuration, storeDir: String, who: String,
      waitMs: Long = TimeUnit.MINUTES.toMillis(10),
      leaseExpiryMs: Long = DefaultLeaseExpiryMs,
      leaseWaitMs: Long = 0L)(body: => T): T = {
    val store = canonical(conf, storeDir)
    val key = store.toString
    val l = lockFor(key)
    if (!l.tryLock(waitMs, TimeUnit.MILLISECONDS))
      throw new IllegalStateException(
        s"$who: store-writer lock on $key still held after ${waitMs}ms — " +
          "a long compact/retrain may legitimately still be running " +
          "(raise waitMs for lanes that should wait it out), or a " +
          "writer is wedged; refusing to race it either way")
    try {
      val depth = Option(depths.get(key)).fold(0)(_.intValue()) + 1
      if (depth == 1) {
        val fs = store.getFileSystem(conf)
        // a fresh foreign lease throws LeaseHeldException; leaseWaitMs
        // optionally retries it with capped-exponential backoff — the
        // audit-ledger shape (advice r13): two drivers sweeping
        // DISJOINT stores but sharing one logDir collide only for the
        // duration of one small parquet write, and turning that moment
        // into a lost audit record was a new failure mode for a
        // previously-working multi-driver topology
        val deadline = System.nanoTime() + leaseWaitMs * 1000000L
        var backoff = 100L
        var acquired = false
        while (!acquired) {
          try { acquireLease(fs, store, who, leaseExpiryMs); acquired = true }
          catch {
            case e: LeaseHeldException =>
              if (System.nanoTime() >= deadline) throw e
              Thread.sleep(math.min(backoff,
                math.max(1L, (deadline - System.nanoTime()) / 1000000L)))
              backoff = math.min(backoff * 2, 2000L)
          }
        }
        val hold = new Hold(fs, store)
        holds.put(key, hold)
        depths.put(key, Integer.valueOf(depth))
        startHeartbeat(key, fs, store, leaseExpiryMs, hold)
        try body
        finally {
          depths.remove(key)
          stopHeartbeat(key)
          holds.remove(key)
          try releaseLease(fs, store)
          catch { case _: java.io.IOException => () } // expires on its own
        }
      } else {
        depths.put(key, Integer.valueOf(depth))
        try body finally depths.put(key, Integer.valueOf(depth - 1))
      }
    } finally l.unlock()
  }

  /** The PUBLISH FENCE (lease-without-fencing gap, verdict r13): called
    * by [[AtomicPublish]] immediately before its first destructive op
    * (the live-name delete / live→bak rename). If `target` lies under a
    * store whose lease this process holds, re-verify the hold RIGHT NOW:
    * the sticky `lost` flag (set by the heartbeat the moment it observes
    * a foreign owner) plus one fresh ownership read. A writer GC-paused
    * past expiry whose lease was taken over thus fails loudly HERE, with
    * the live store untouched — its staged dir becomes residue for fsck
    * gc — instead of landing stale renames over the new owner's fresher
    * epochs. Publishes outside any held store (bootstrap builds into a
    * fresh dir, spec scaffolding) pass through unchanged: the fence
    * guards the lease contract, it does not invent one. Cost: one
    * metadata read per publish, against the measured ~8 ms lease cycle. */
  private[operators] def fence(conf: Configuration, target: Path): Unit = {
    val t = canonical(conf, target.toString).toString
    val it = holds.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val k = e.getKey
      if (t == k || t.startsWith(k + "/")) {
        val hold = e.getValue
        def refuse(why: String): Nothing =
          throw new LeaseLostException(
            s"publish fenced: lease on ${hold.store} $why — this " +
              "writer's hold was usurped (takeover past a pause, " +
              "mis-tuned expiry, or operator action); refusing the " +
              s"destructive publish of $target so the current owner's " +
              "epochs stay intact. Staged work is residue for fsck gc")
        if (hold.lost.get) refuse("was already observed lost mid-hold")
        // fresh ownership read UNDER THE HOLD'S MONITOR: our own
        // heartbeat's refresh-REPLACE (delete + re-create when setTimes
        // is a no-op) runs its whole window inside hold.synchronized,
        // so this read can never observe the self-induced absence — a
        // vanished or unreadable lease here is FOREIGN evidence. Still
        // retry briefly (another process's takeover-delete + our
        // reclaim can legitimately interleave).
        def read(): Option[String] =
          hold.synchronized { readOwner(hold.fs, leasePath(hold.store)) }
        var owner = read()
        var reps = 0
        while (owner.forall(_.isEmpty) && reps < 3) {
          Thread.sleep(30); owner = read(); reps += 1
        }
        owner match {
          case Some(OwnerId) => ()
          case Some(other) if other.nonEmpty =>
            hold.lost.set(true)
            refuse(s"is now held by $other")
          case Some(_) =>
            // readable but EMPTY past the retries: a mid-create window
            // we cannot attribute — inconclusive, so refuse this
            // publish (safe direction for a destructive op) but do NOT
            // set the sticky flag: the next beat/publish re-evaluates,
            // a healthy hold is not permanently fenced by one glitch
            refuse("reads empty (cannot prove exclusivity; not marking " +
              "the hold lost — retry after the next heartbeat)")
          case None =>
            // vanished and stayed vanished across the retries: we can no
            // longer PROVE exclusivity. The heartbeat will reclaim it,
            // but a concurrent acquirer could equally be mid-create —
            // the safe direction for a destructive op is refusal (and
            // like the empty case, NOT sticky: reclaim may win)
            refuse("has vanished (cannot prove exclusivity)")
        }
      }
    }
  }

  /** Lock is currently held by another thread (spec hook). */
  private[operators] def isHeld(spark: SparkSession, storeDir: String): Boolean = {
    val l = lockFor(
      canonical(spark.sparkContext.hadoopConfiguration, storeDir).toString)
    l.isLocked && !l.isHeldByCurrentThread
  }

  /** Threads are queued waiting on the lock (spec hook — lets a race
    * spec observe a writer deterministically blocked, no sleeps). */
  private[operators] def hasWaiters(spark: SparkSession, storeDir: String): Boolean =
    lockFor(
      canonical(spark.sparkContext.hadoopConfiguration, storeDir).toString)
      .hasQueuedThreads
}

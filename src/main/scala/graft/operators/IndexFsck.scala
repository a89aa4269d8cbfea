package graft.operators

import java.util.concurrent.TimeUnit

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Fleet health check + safe residue GC for the persisted index stores —
  * the REMEDIATION half the catalog lacked: [[graft.IndexCatalog]]
  * reports crash residue and pending deletions, the takedown sweep
  * deletes, but nothing verified a store's structural invariants or
  * cleaned what crashes leave behind. One `fsck` per store returns
  * typed findings; `gc` removes exactly the residue no reader or
  * recovery path needs:
  *
  *  - dot-prefixed staging dirs (invisible to readers by construction,
  *    incomplete by definition — every publish path deletes-then-
  *    rewrites its own staging name anyway);
  *  - `<name>.<op>-tmp` swap staging (same invisibility, sibling form);
  *  - `<name>.<op>-bak` recovery copies ONLY when their live twin
  *    exists — the bak's deletion is the swap's last step, so live +
  *    bak together mean the swap COMPLETED and the crash hit the final
  *    delete. A bak WITHOUT its live twin is the recovery copy of a
  *    crash between the two renames: never touched, reported `error`.
  *
  * Family invariants checked (the migration/guard rules in one surface):
  *  - search: docs ledger carries `dl` (v1 stores need
  *    [[SearchIndex.migrateDocsLedger]]); `term_df` covers every
  *    committed docs epoch (else the hybrid cap serves the derived
  *    fallback until a compact backfills);
  *  - winnow: members-twin status ([[WinnowIndex.membersTwinStatus]] —
  *    `legacy` is rebuild-only);
  *  - count models: counter epochs beyond the ledger commit point
  *    (crash residue the next append reconciles) and neg-epoch orphans;
  *  - every store: pending deletions (the forced-compact trigger).
  *
  * Run: `sbt "runMain graft.operators.IndexFsck [--gc] [--repair] <dir> ..."`.
  * `fsck` is read-only (and runs unattended at the maintenance cadence
  * via [[graft.streaming.DocStream.fsckStream]], findings persisted by
  * [[logFindings]]); `gc` and [[repair]] are WRITERS under the fleet's
  * single-writer contract — gc takes the store's [[StoreLock]] + lease
  * directly and age-guards staging dirs; repair runs the family's own
  * compact, which carries its discipline's serialization
  * ([[Tombstones.Snapshot]] / [[NegEpochs.applyWithSwap]]'s lock+lease).
  */
object IndexFsck {

  /** One finding. `status`: ok | info | warn | error. */
  final case class Finding(
      dir: String, family: String, check: String, status: String, detail: String)

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def children(spark: SparkSession, dir: Path): Seq[String] = {
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName).toSeq.sorted
  }

  // ONLY the op tokens the publish paths actually emit
  // ([[AtomicPublish.SwapOps]]): `<name>.<anything>-bak` would also match
  // an operator's manual `store.old-bak` copy sitting next to a live
  // store — gc must never mistake a hand-made backup for swap residue
  private val Ops = AtomicPublish.SwapOps.mkString("|")
  private val BakPattern = s"^(.+)\\.($Ops)-bak$$".r
  private val TmpPattern = s"^(.+)\\.($Ops)-tmp$$".r

  /** Residue triage of one directory's children: (staging, completed
    * bak, orphan bak). A bak is "completed" when its live twin is
    * present among `names`. */
  private def triage(names: Seq[String]): (Seq[String], Seq[String], Seq[String]) = {
    val present = names.toSet
    val staging = names.filter(n => n.startsWith(".") || TmpPattern.matches(n))
    val (done, orphan) = names.collect {
      case n @ BakPattern(live, _) => (n, present.contains(live))
    }.partition(_._2)
    (staging, done.map(_._1), orphan.map(_._1))
  }

  /** The ONE residue scanner both [[fsck]] (report) and [[gc]] (remove)
    * consume — a classifier change that reached only one of them would
    * silently diverge what is reported from what is deleted, the exact
    * drift this tool exists to prevent. Returns (staging paths,
    * completed-swap bak paths, orphan bak paths); orphan baks are
    * recovery copies and NEVER gc candidates. Scans the store's
    * children, each table dir's dot-staging, and the store-SIBLING
    * `<store>.<op>-tmp/-bak` names the whole-store swaps leave; when the
    * store dir itself is MISSING, every sibling bak is an orphan (a
    * mid-swap crash on the whole store — the bak IS the store). */
  private def residue(
      spark: SparkSession,
      root: Path): (Seq[Path], Seq[Path], Seq[Path]) = {
    val fs = fsOf(spark, root)
    val exists = fs.exists(root)
    val storeKids = if (exists) children(spark, root) else Seq.empty
    val (stage0, done0, orphan0) = triage(storeKids)
    val tableStaging = storeKids.filter(_.endsWith(".parquet")).flatMap { t =>
      children(spark, new Path(root, t)).filter(_.startsWith("."))
        .map(new Path(new Path(root, t), _))
    }
    val sibs = Option(root.getParent).map(children(spark, _)).getOrElse(Seq.empty)
      .filter(n => n != root.getName && n.startsWith(root.getName + "."))
    val (sibStage, sibDone, sibOrphan) =
      triage(if (exists) sibs :+ root.getName else sibs)
    def sib(n: String) = new Path(root.getParent, n)
    ((stage0.map(new Path(root, _)) ++ tableStaging ++ sibStage.map(sib)),
      done0.map(new Path(root, _)) ++ sibDone.filter(_ != root.getName).map(sib),
      orphan0.map(new Path(root, _)) ++ sibOrphan.map(sib))
  }

  /** Structural findings for one store. Read-only. */
  def fsck(spark: SparkSession, dir: String): Seq[Finding] = {
    val root = new Path(dir)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) {
      // still scan the SIBLINGS: a mid-swap crash on the whole store dir
      // leaves `<store>.<op>-bak` as the only copy — the operator
      // diagnosing the missing store must be told the recovery copy
      // exists (and gc must never take it)
      val (_, _, orphanBak) = residue(spark, root)
      return Finding(dir, "unknown", "exists", "error", "store dir missing") +:
        (if (orphanBak.isEmpty) Seq.empty
         else Seq(Finding(dir, "unknown", "residue_bak_orphan", "error",
           "bak WITHOUT live twin — mid-swap crash RECOVERY COPY, do " +
             s"NOT gc: ${orphanBak.mkString(", ")}")))
    }
    val famDef = graft.IndexCatalog.detectFamilyDef(spark, dir)
    val family = famDef.fold("unknown")(_.name)
    val out = Seq.newBuilder[Finding]
    if (famDef.isEmpty)
      out += Finding(dir, family, "family", "error",
        "no signature table matches IndexCatalog.Families — the compliance sweep cannot cover this store")

    val storeKids = children(spark, root)
    // serving-surface minimum: the registry row's own requiredTables (a
    // missing one is an `error` — reads would throw PATH_NOT_FOUND
    // mid-plan with no hint which family invariant broke)
    val missingTables = famDef.fold(Seq.empty[String])(_.requiredTables)
      .filterNot(storeKids.contains)
    if (missingTables.nonEmpty)
      out += Finding(dir, family, "table_missing", "error",
        s"required tables absent — reads will throw mid-plan: ${missingTables.mkString(", ")}")
    val (staging, completedBak, orphanBak) = residue(spark, root)
    if (staging.nonEmpty)
      out += Finding(dir, family, "residue_staging", "info",
        s"gc-safe staging residue: ${staging.mkString(", ")}")
    if (completedBak.nonEmpty)
      out += Finding(dir, family, "residue_bak", "warn",
        s"completed-swap bak residue (live twin present, gc-safe): ${completedBak.mkString(", ")}")
    if (orphanBak.nonEmpty)
      out += Finding(dir, family, "residue_bak_orphan", "error",
        s"bak WITHOUT live twin — mid-swap crash recovery copy, do NOT gc: ${orphanBak.mkString(", ")}")

    // deletion-writer lease state: held = a writer is live on this
    // lineage right now (info); stale = a crashed holder's residue,
    // self-healing — the next writer takes it over after expiry (warn,
    // so an operator learns a driver died even if no writer has come
    // along to take over yet)
    val lease = StoreLock.leasePath(root)
    // exists + getFileStatus is a TOCTOU against a writer's release —
    // a lease vanishing mid-check is a healthy release, not a finding
    val leaseAge =
      try
        if (!fs.exists(lease)) None
        else Some(System.currentTimeMillis() -
          fs.getFileStatus(lease).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
    leaseAge.foreach { age =>
      // staleness judged against the HOLDER's recorded expiry (the
      // lease's third line, written at acquire) — a fleet tuned to a
      // longer expiry must not collect a false "its holder crashed"
      // warn every scan from a default-tuned fsck
      val expiry = StoreLock.readLeaseExpiry(fs, lease)
        .getOrElse(StoreLock.DefaultLeaseExpiryMs)
      if (age > expiry)
        out += Finding(dir, family, "lease_stale", "warn",
          s"deletion-writer lease ${lease.getName} unrefreshed for ${age}ms " +
            s"(> holder expiry ${expiry}ms) — its holder crashed; the " +
            "next writer takes over")
      else
        out += Finding(dir, family, "lease_held", "info",
          s"deletion-writer lease held (${lease.getName}, age ${age}ms) — " +
            "a writer is active on this lineage")
    }

    // pending deletions (informational — a maintenance lane's next
    // maybeCompact force-applies them; a store OUTSIDE any maintenance
    // stream needs [[repair]] or a sweep with applyNow)
    if (IndexPolicy.pendingDeletes(spark, dir))
      out += Finding(dir, family, "pending_deletes", "info",
        "unretired tombstones/dels — next maybeCompact applies them " +
          "(no maintenance lane? fsck --repair / sweep applyNow retires them)")

    family match {
      case "search" =>
        val docs = new Path(root, "docs.parquet")
        if (fs.exists(docs)) {
          val legacyEpochs = children(spark, docs).filter(_.startsWith("epoch="))
            .filterNot(e => StoreRead.table(spark, s"$docs/$e").columns.contains("dl"))
          if (legacyEpochs.nonEmpty)
            out += Finding(dir, family, "docs_ledger_v1", "error",
              s"epochs without dl (BM25 reads refuse): ${legacyEpochs.mkString(", ")} — any append/compact migrates")
        }
        val committed = EpochLedger.epochs(spark, s"$dir/docs.parquet")
        val summarized = EpochLedger.epochs(spark, s"$dir/term_df.parquet").toSet
        if (!committed.forall(summarized.contains))
          out += Finding(dir, family, "term_df_coverage", "warn",
            s"summary misses committed epochs ${committed.filterNot(summarized.contains).sorted.mkString(",")} — hybrid cap on derived fallback until a compact backfills")
      case "winnow" =>
        WinnowIndex.membersTwinStatus(spark, dir) match {
          case ("ok", _) => ()
          case ("crash_window", eps) =>
            out += Finding(dir, family, "members_twin", "warn",
              s"orphan fps epochs ${eps.mkString(",")} — at-least-once replay repairs")
          case (_, eps) =>
            out += Finding(dir, family, "members_twin", "error",
              s"pre-v3 members-less epochs ${eps.mkString(",")} — mutations refused, rebuild from the corpus")
        }
      case _ => ()
    }
    // table epochs past the ledger commit point: crash residue — harmless
    // to reads (ledger-protocol families skip uncommitted epochs; sketch
    // value-merges the duplicate away) and retired by the reconciling
    // append or the next compact
    val counterFamily = Set("lm-bigram", "classifier", "dsir", "sketch", "span")
    val tombstoneFamily = Set("search", "winnow", "pack", "eval-vocab")
    if (counterFamily(family) || tombstoneFamily(family)) {
      val max = EpochLedger.committedMax(spark, s"$dir/docs.parquet")
      val (negTables, posTables) = storeKids
        .filter(n => n.endsWith(".parquet") && !n.startsWith("docs") &&
          !n.startsWith("dels") && !n.startsWith("documents") &&
          !n.startsWith("tombstones"))
        .partition(_.startsWith("neg-"))
      // positive tables commit via the docs ledger; NEGATIVE epochs
      // commit via the dels ledger (NegEpochs protocol)
      val delsMax = EpochLedger.committedMax(spark, s"$dir/dels.parquet")
      val orphans =
        posTables.flatMap { t =>
          EpochLedger.epochs(spark, s"$dir/$t").filter(_ > max).map(e => s"$t/epoch=$e")
        } ++ negTables.flatMap { t =>
          EpochLedger.epochs(spark, s"$dir/$t").filter(_ > delsMax).map(e => s"$t/epoch=$e")
        }
      if (orphans.nonEmpty)
        out += Finding(dir, family,
          if (counterFamily(family)) "counter_orphans" else "table_orphans", "warn",
          "uncommitted table epochs (reads skip or value-merge them; " +
            s"a reconciling append or the next compact retires them): ${orphans.mkString(", ")}")
    }
    val findings = out.result()
    if (findings.isEmpty) Seq(Finding(dir, family, "all", "ok", "no findings"))
    else findings
  }

  /** Remove exactly the gc-safe residue ([[fsck]]'s `residue_staging` +
    * `residue_bak` — the SAME [[residue]] scanner, so report and
    * remediation cannot drift); orphan baks are never touched. Returns
    * removed paths.
    *
    * CONCURRENCY: gc is a WRITER and takes the store's [[StoreLock]] +
    * lease like every other writer — and since round 13 EVERY writer
    * (appends, builds, compacts, retrains, deletions) holds that lock,
    * gc is serialized against all of them by mechanism, in-process and
    * cross-process alike. It additionally re-verifies each bak's live
    * twin immediately before deleting it (a swap that completed between
    * the scan and the delete is never mistaken for residue) and
    * age-guards staging dirs by their newest inner mtime — belt and
    * braces against any legacy writer that predates the lock. */
  /** Minimum staging-dir age before [[gc]] treats it as crash residue.
    * Since every writer now holds the [[StoreLock]] + lease, a locked gc
    * cannot race a current-code writer at all — this guard is belt and
    * braces against LEGACY writers (pre-lock binaries sharing the store)
    * and operator-made staging-shaped dirs. A staging dir younger than
    * this is presumed live and skipped — a crashed writer's residue only
    * gets OLDER, so the skip delays its collection by one cycle, never
    * leaks it. Baks need no age guard: they get the per-victim live-twin
    * re-check instead (a mid-swap bak has no live twin → orphan →
    * untouchable by construction). */
  val GcMinStagingAgeMs: Long = 15L * 60 * 1000

  def gc(spark: SparkSession, dir: String,
      minStagingAgeMs: Long = GcMinStagingAgeMs): Seq[String] = {
    val root0 = new Path(dir)
    // a missing store is a read-only no-op BEFORE the lock: taking the
    // lease would create the lease file (and any missing parent dirs) —
    // a gc probe against a mistyped path must leave no residue
    if (!fsOf(spark, root0).exists(root0)) return Seq.empty
    StoreLock.withLock(spark, dir, "fsck-gc") {
      val root = new Path(dir)
      val fs = fsOf(spark, root)
      if (!fs.exists(root)) Seq.empty
      else {
        val (staging, completedBak, _) = residue(spark, root)
        val now = System.currentTimeMillis()
        // liveness = the NEWEST mtime anywhere under the staging dir,
        // not the dir's own: Spark's job-commit writes leave the dir
        // mtime at job start while task files land deep under
        // _temporary/ — a >15-min in-flight write would otherwise look
        // collectible at exactly the scale where writes take that long
        def newest(p: Path): Long =
          try {
            val st = fs.getFileStatus(p)
            if (!st.isDirectory) st.getModificationTime
            else (st.getModificationTime +:
              fs.listStatus(p).toSeq.map(s => newest(s.getPath))).max
          } catch { case _: java.io.FileNotFoundException => Long.MaxValue }
        val oldEnough = staging.filter(p => now - newest(p) >= minStagingAgeMs)
        val stillSafeBaks = completedBak.filter { p =>
          // per-victim re-check right before the delete: the bak is only
          // residue while its live twin exists NOW
          p.getName match {
            case BakPattern(live, _) => fs.exists(new Path(p.getParent, live))
            case _ => false
          }
        }
        (oldEnough ++ stillSafeBaks).flatMap { p =>
          if (fs.delete(p, true)) Some(p.toString) else None
        }
      }
    }
  }

  /** Retire pending deletions on a store OUTSIDE any maintenance stream.
    * The forced compact ([[IndexPolicy.maybeCompact]]'s deletion trigger)
    * only fires from maintenance lanes — a store that is swept but never
    * maintained keeps its tombstones / neg-epoch ledger (and the measured
    * 1.15–2.17× pending-read tax, PERF "Takedown at scale") forever;
    * [[fsck]] reported it, nothing ran one. Runs the family's
    * registry-row deletion-applying compact iff deletions are pending
    * (same trigger condition as the maintenance lanes, so a clean store
    * is never rewritten). Returns whether a compact ran. A WRITER under
    * the fleet's single-writer contract, like [[gc]]. */
  def repair(spark: SparkSession, dir: String): Boolean =
    graft.IndexCatalog.detectFamilyDef(spark, dir) match {
      case Some(fam) if IndexPolicy.pendingDeletes(spark, dir) =>
        fam.compact.exists { c => c(spark, dir); true }
      case _ => false
    }

  /** Persist one fleet scan's findings as an epoch of `logDir` — the
    * audit-ledger discipline ([[Takedown.sweepLogged]]) applied to store
    * health: the fsck stream lane's findings must survive the driver,
    * or a break detected at 3am is gone by the time an operator looks.
    * Epoch = scan order (no wall clock — replays append history);
    * the write is serialized under the ledger dir's [[StoreLock]] +
    * lease like every other read-modify-write epoch numbering. Callers
    * pass only the NON-OK findings: the ledger is a triage queue, not a
    * heartbeat, and a healthy fleet must not grow it per scan. */
  def logFindings(
      spark: SparkSession, logDir: String, findings: Seq[Finding]): Unit =
    if (findings.nonEmpty)
      // leaseWaitMs: a SHARED ledger dir legitimately sees two fleets'
      // scan lanes collide for the duration of one small parquet write —
      // wait a momentary contender out with backoff instead of turning
      // the collision into a lost health record (advice r13)
      StoreLock.withLock(spark, logDir, "fsck-log",
        leaseWaitMs = TimeUnit.MINUTES.toMillis(2)) {
        val next = EpochLedger.epochs(spark, logDir).foldLeft(-1)(math.max) + 1
        val session = spark
        import session.implicits._
        AtomicPublish.stageAndRename(
          spark, logDir, s".epoch-$next.tmp", s"epoch=$next") { tmp =>
          findings.map(f => (f.dir, f.family, f.check, f.status, f.detail))
            .toDF("dir", "family", "check", "status", "detail")
            .coalesce(1)
            .write.mode("overwrite").parquet(tmp.toString)
        }
      }

  /** The persisted findings ledger, scans in epoch order (`scan` = the
    * epoch partition column); empty frame with the right schema if no
    * scan ever found anything. */
  def findingsLog(spark: SparkSession, logDir: String): org.apache.spark.sql.DataFrame =
    if (EpochLedger.epochs(spark, logDir).isEmpty) {
      val session = spark
      import session.implicits._
      Seq.empty[(String, String, String, String, String, Int)]
        .toDF("dir", "family", "check", "status", "detail", "scan")
    } else
      spark.read.parquet(logDir).withColumnRenamed("epoch", "scan")

  def main(args: Array[String]): Unit = {
    val doGc = args.contains("--gc")
    val doRepair = args.contains("--repair")
    val dirs = args.filterNot(a => a == "--gc" || a == "--repair")
    require(dirs.nonEmpty,
      "usage: IndexFsck [--gc] [--repair] <indexDir> [indexDir...]")
    val builder = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
    graft.Tables.RequiredConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try dirs.foreach { d =>
      fsck(spark, d).foreach { f =>
        println(s"[fsck] ${f.dir} ${f.family} ${f.check} ${f.status}: ${f.detail}")
      }
      if (doGc) gc(spark, d).foreach(p => println(s"[fsck] gc removed $p"))
      if (doRepair && repair(spark, d))
        println(s"[fsck] repair compacted $d (pending deletions retired)")
    } finally spark.stop()
  }
}

package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The CROSS-PROCESS half of the single-deletion-writer contract
  * ([[StoreLock]]'s filesystem lease): a second driver on one store
  * lineage — simulated by pre-planting a foreign process's lease file,
  * which is indistinguishable from the real thing (the in-process lock
  * table can't see either) — is refused loudly on EVERY deletion-write
  * path; a crashed holder's stale lease is taken over; a healthy
  * holder's lease heartbeats and is released on exit. */
class StoreLeaseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private val corpus = Seq(
    (1L, "a b c a b", "en", "s0"),
    (2L, "a b a b", "en", "s0"),
    (3L, "x y z", "en", "s1")).toDF("doc_id", "text", "lang", "source")

  private def leaseFile(storeDir: String) = Paths.get(storeDir + ".lease")

  /** Plant what a SECOND PROCESS's live lease looks like on disk. */
  private def plantForeignLease(storeDir: String): Unit = {
    Files.writeString(leaseFile(storeDir),
      "99999@other-host#feedbeef\nspec-foreign-writer\n")
    ()
  }

  private def ageLease(storeDir: String, ageMs: Long): Unit = {
    Files.setLastModifiedTime(leaseFile(storeDir),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - ageMs))
    ()
  }

  test("a fresh foreign lease refuses every deletion-write path loudly") {
    val base = tmp("graft-lease")
    val idx = s"$base/lm"
    LmIndex.buildModel(spark, corpus, idx)
    plantForeignLease(idx)
    // tombstone write path
    val e1 = intercept[IllegalStateException] {
      Tombstones.delete(spark, idx, corpus.select(col("doc_id")), "doc_id")
    }
    assert(e1.getMessage.contains("lease-held") &&
      e1.getMessage.contains("99999@other-host#feedbeef"))
    // count-model deletion write path (NegEpochs under the family delete)
    val e2 = intercept[IllegalStateException] {
      LmIndex.deleteFromModel(spark, idx, corpus.filter(col("doc_id") === 2L))
    }
    assert(e2.getMessage.contains("lease-held"))
    // whole-store deletion apply
    val e3 = intercept[IllegalStateException] {
      NegEpochs.applyWithSwap(spark, idx) { _ => fail("stage must not run") }
    }
    assert(e3.getMessage.contains("lease-held"))
    // residue gc (a writer under the same contract)
    val e4 = intercept[IllegalStateException] { IndexFsck.gc(spark, idx) }
    assert(e4.getMessage.contains("lease-held"))
    // nothing was written under the refusals
    assert(!new java.io.File(s"$idx/tombstones.parquet").exists())
    assert(!new java.io.File(s"$idx/dels.parquet").exists())
    // the foreign lease itself is never deleted by a refused writer
    assert(Files.exists(leaseFile(idx)))
  }

  test("a STALE foreign lease (crashed holder — heartbeat stopped past " +
      "expiry) is taken over, and the takeover's own lease releases") {
    val base = tmp("graft-leasestale")
    val idx = s"$base/lm"
    LmIndex.buildModel(spark, corpus, idx)
    plantForeignLease(idx)
    ageLease(idx, StoreLock.DefaultLeaseExpiryMs + 60000)
    // the deletion now proceeds — takeover, write, release
    LmIndex.deleteFromModel(spark, idx, corpus.filter(col("doc_id") === 3L))
    assert(new java.io.File(s"$idx/dels.parquet").exists())
    assert(!Files.exists(leaseFile(idx)),
      "the taken-over lease must be released like any other")
    // the deletion is real: store ≡ rebuild-minus-victim after compact
    LmIndex.compact(spark, idx)
    val rebuilt = s"$base/rebuilt"
    LmIndex.buildModel(spark, corpus.filter(col("doc_id") =!= 3L), rebuilt)
    val probe = Seq((10L, "a b a"), (11L, "x y")).toDF("doc_id", "text")
    assert(
      LmIndex.scoreDocs(spark, probe, idx).collect().map(_.toSeq).toSet ===
        LmIndex.scoreDocs(spark, probe, rebuilt).collect().map(_.toSeq).toSet)
  }

  test("EVERY writer path — append, compact, build, retrain — refuses a " +
      "fresh foreign lease, not just the deletion writers") {
    val base = tmp("graft-leasewriters")
    val idx = s"$base/lm"
    LmIndex.buildModel(spark, corpus, idx)
    plantForeignLease(idx)
    val more = Seq((9L, "nu xi omicron", "en", "s2"))
      .toDF("doc_id", "text", "lang", "source")
    assert(intercept[IllegalStateException] {
      LmIndex.appendToModel(spark, idx, more)
    }.getMessage.contains("lease-held"))
    assert(intercept[IllegalStateException] {
      LmIndex.compact(spark, idx)
    }.getMessage.contains("lease-held"))
    assert(intercept[IllegalStateException] {
      LmIndex.buildModel(spark, corpus, idx)
    }.getMessage.contains("lease-held"))
    // a second store, to cover a swap-discipline writer (retrain)
    val tok = s"$base/tok"
    TokenizerIndex.buildIndex(spark, corpus.select("doc_id", "text"), tok)
    plantForeignLease(tok)
    assert(intercept[IllegalStateException] {
      TokenizerIndex.retrain(spark, tok, corpus.select("doc_id", "text"))
    }.getMessage.contains("lease-held"))
  }

  test("a crashed SAME-HOST holder (dead pid) is taken over immediately — " +
      "no 10-minute lockout after an operator restarts the driver") {
    val base = tmp("graft-leasedeadpid")
    val idx = s"$base/lm"
    LmIndex.buildModel(spark, corpus, idx)
    val host = StoreLock.OwnerId.split("@")(1).split("#")(0)
    // pid 88888888 exceeds any live pid here; lease mtime is FRESH —
    // only the kernel's "that pid is dead" makes this takeable
    Files.writeString(leaseFile(idx), s"88888888@$host#dead0000\ncrashed\n")
    LmIndex.deleteFromModel(spark, idx, corpus.filter(col("doc_id") === 3L))
    assert(new java.io.File(s"$idx/dels.parquet").exists())
    assert(!Files.exists(leaseFile(idx)))
    // the safe direction: a LIVE same-host pid (ours, different nonce —
    // the pid-reuse shape) is refused while fresh
    Files.writeString(leaseFile(idx),
      s"${ProcessHandle.current().pid()}@$host#notus123\nother\n")
    assert(intercept[IllegalStateException] {
      LmIndex.compact(spark, idx)
    }.getMessage.contains("lease-held"))
    Files.delete(leaseFile(idx))
  }

  test("a normal write takes and RELEASES the lease; while held it is on " +
      "disk with this process's owner id") {
    val dir = tmp("graft-leaseheld") + "/store"
    Files.createDirectories(Paths.get(dir))
    var seen: String = null
    StoreLock.withLock(spark, dir, "spec-hold") {
      seen = Files.readString(leaseFile(dir))
    }
    assert(seen.startsWith(StoreLock.OwnerId))
    assert(!Files.exists(leaseFile(dir)), "released on exit")
  }

  test("reentrant entry does not re-take or early-release the lease") {
    val dir = tmp("graft-leasereent") + "/store"
    Files.createDirectories(Paths.get(dir))
    StoreLock.withLock(spark, dir, "outer") {
      StoreLock.withLock(spark, dir, "inner") {
        assert(Files.exists(leaseFile(dir)))
      }
      assert(Files.exists(leaseFile(dir)),
        "inner exit must not release the outer hold's lease")
    }
    assert(!Files.exists(leaseFile(dir)))
  }

  test("the heartbeat keeps a long-held lease fresh (a live holder never " +
      "goes stale under GC pauses shorter than expiry)") {
    val dir = tmp("graft-leasebeat") + "/store"
    Files.createDirectories(Paths.get(dir))
    StoreLock.withLock(spark, dir, "spec-long-hold", leaseExpiryMs = 3000) {
      // age the lease as if 2.9s had passed, then wait one heartbeat
      // period (expiry/3 = 1s): the beat must refresh mtime to ~now
      ageLease(dir, 2900)
      val aged = Files.getLastModifiedTime(leaseFile(dir)).toMillis
      val t0 = System.nanoTime()
      while (Files.getLastModifiedTime(leaseFile(dir)).toMillis <= aged &&
        (System.nanoTime() - t0) < 10e9.toLong) Thread.sleep(50)
      assert(Files.getLastModifiedTime(leaseFile(dir)).toMillis > aged,
        "heartbeat must refresh the held lease's mtime")
    }
    assert(!Files.exists(leaseFile(dir)))
  }

  test("the heartbeat never refreshes (or clobbers) a FOREIGN lease that " +
      "usurped the hold — a crashed usurper must still go stale") {
    val dir = tmp("graft-leaseusurp") + "/store"
    Files.createDirectories(Paths.get(dir))
    StoreLock.withLock(spark, dir, "spec-usurped", leaseExpiryMs = 3000) {
      // simulate the takeover race's outcome: our lease replaced by a
      // second process's — from here the beat must not touch it
      Files.writeString(leaseFile(dir), "31337@usurper#beef\nspec\n")
      ageLease(dir, 1500)
      val usurpedMtime = Files.getLastModifiedTime(leaseFile(dir)).toMillis
      Thread.sleep(2300) // two beat periods (expiry/3 = 1 s)
      assert(Files.getLastModifiedTime(leaseFile(dir)).toMillis === usurpedMtime,
        "a blind setTimes would keep the usurper's lease eternally fresh")
      assert(Files.readString(leaseFile(dir)).startsWith("31337@usurper#beef"),
        "the beat must not clobber the usurper's lease either")
    }
    // release deletes only OUR lease — the foreign file survives exit
    assert(Files.exists(leaseFile(dir)))
    Files.delete(leaseFile(dir))
  }

  test("a publish under a USURPED hold is FENCED: the destructive swap " +
      "refuses loudly and the live store is untouched (r13 verdict #1)") {
    val dir = tmp("graft-leasefence") + "/store"
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "epoch.txt"), "owner-A-epoch")
    StoreLock.withLock(spark, dir, "spec-fenced-swap") {
      // the takeover race's outcome, planted mid-hold: our lease name
      // now carries a second process's identity
      Files.writeString(leaseFile(dir), "31337@usurper#beef\nspec\n")
      val e = intercept[StoreLock.LeaseLostException] {
        AtomicPublish.swapDir(spark, dir) { tmpP =>
          Files.createDirectories(Paths.get(tmpP.toUri.getPath))
          Files.writeString(
            Paths.get(tmpP.toUri.getPath, "epoch.txt"), "stale-writer-epoch")
          ()
        }
      }
      assert(e.getMessage.contains("fenced") &&
        e.getMessage.contains("31337@usurper#beef"))
      // the staged tmp was discarded as residue, live never touched
      assert(Files.readString(Paths.get(dir, "epoch.txt")) === "owner-A-epoch")
      assert(!Files.exists(Paths.get(dir + ".compact-bak")),
        "the live->bak rename must never have run")
    }
    Files.delete(leaseFile(dir)) // the usurper's lease survives our exit
  }

  test("a stageAndRename under a usurped hold is fenced too, and once " +
      "lost the flag is STICKY for the rest of the hold") {
    val dir = tmp("graft-leasefence2") + "/store"
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "table.txt"), "live")
    StoreLock.withLock(spark, dir, "spec-fenced-stage") {
      Files.writeString(leaseFile(dir), "31337@usurper#beef\nspec\n")
      intercept[StoreLock.LeaseLostException] {
        AtomicPublish.stageAndRename(spark, dir, ".table.tmp", "table.txt") {
          tmpP =>
            Files.writeString(Paths.get(tmpP.toUri.getPath), "stale")
            ()
        }
      }
      assert(Files.readString(Paths.get(dir, "table.txt")) === "live")
      // sticky: even after the usurper's lease is hand-removed (so a
      // fresh ownership read could no longer prove the loss), the hold
      // KNOWS it was usurped and keeps refusing — exclusivity was
      // broken once, nothing later in this hold can un-break it
      Files.delete(leaseFile(dir))
      val e2 = intercept[StoreLock.LeaseLostException] {
        AtomicPublish.stageAndRename(spark, dir, ".table.tmp", "table.txt") {
          tmpP =>
            Files.writeString(Paths.get(tmpP.toUri.getPath), "stale2")
            ()
        }
      }
      assert(e2.getMessage.contains("already observed lost"))
      assert(Files.readString(Paths.get(dir, "table.txt")) === "live")
    }
  }

  test("a PqIndex append under a usurped hold is fenced: it throws and " +
      "publishes no new codes.parquet epoch") {
    val idx = tmp("graft-leasepq") + "/pq"
    val rnd = new scala.util.Random(7)
    val emb = (0L until 96L)
      .map(i => (i, i % 3, Seq.fill(64)(rnd.nextFloat())))
      .toDF("vec_id", "label", "embedding")
    PqIndex.buildIndex(spark, emb.filter(col("vec_id") % 3 =!= 0), idx)
    StoreLock.withLock(spark, idx, "spec-usurped-pq") {
      Files.writeString(leaseFile(idx), "31337@usurper#beef\nspec\n")
      intercept[StoreLock.LeaseLostException] {
        PqIndex.appendToIndex(spark, idx, emb.filter(col("vec_id") % 3 === 0))
      }
    }
    assert(!Files.exists(Paths.get(s"$idx/codes.parquet/epoch=1")))
    Files.delete(leaseFile(idx)) // the usurper's lease survives our exit
  }

  test("an EMPTY lease read refuses the publish but is NOT sticky: the " +
      "hold recovers once the lease reads as ours again (review r14 — " +
      "a transient mid-create window must not permanently fence a " +
      "healthy writer)") {
    val dir = tmp("graft-leaseempty") + "/store"
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "table.txt"), "live")
    StoreLock.withLock(spark, dir, "spec-empty-fence") {
      // a readable-but-empty lease: the mid-create shape fence cannot
      // attribute (could be our heartbeat's re-create on a non-local
      // transport, could be a foreign acquirer mid-write)
      Files.writeString(leaseFile(dir), "")
      val e = intercept[StoreLock.LeaseLostException] {
        AtomicPublish.stageAndRename(spark, dir, ".table.tmp", "table.txt") {
          tmpP =>
            Files.writeString(Paths.get(tmpP.toUri.getPath), "blocked")
            ()
        }
      }
      assert(e.getMessage.contains("empty"))
      assert(Files.readString(Paths.get(dir, "table.txt")) === "live")
      // the glitch clears (our content is back) -> the SAME hold
      // publishes normally; a sticky flag here would have wasted the
      // whole job on one unreadable read
      Files.writeString(leaseFile(dir), s"${StoreLock.OwnerId}\nspec\n")
      AtomicPublish.stageAndRename(spark, dir, ".table.tmp", "table.txt") {
        tmpP =>
          Files.writeString(Paths.get(tmpP.toUri.getPath), "recovered")
          ()
      }
      assert(Files.readString(Paths.get(dir, "table.txt")) === "recovered")
    }
  }

  test("a publish on a store with NO held lease passes the fence " +
      "unchanged (bootstrap builds into fresh dirs)") {
    val dir = tmp("graft-leasenofence") + "/store"
    Files.createDirectories(Paths.get(dir))
    AtomicPublish.stageAndRename(spark, dir, ".t.tmp", "t.txt") { tmpP =>
      Files.writeString(Paths.get(tmpP.toUri.getPath), "fresh")
      ()
    }
    assert(Files.readString(Paths.get(dir, "t.txt")) === "fresh")
  }

  test("the lease records its holder's expiry, and observers honor it: " +
      "a longer-tuned live hold is not stale to a default-tuned fsck, " +
      "and a shorter-tuned crashed hold is taken over early") {
    val dir = tmp("graft-leaseexpiry") + "/store"
    Files.createDirectories(Paths.get(dir))
    val longExpiry = StoreLock.DefaultLeaseExpiryMs * 3
    StoreLock.withLock(spark, dir, "spec-long-expiry",
      leaseExpiryMs = longExpiry) {
      assert(Files.readString(leaseFile(dir)).linesIterator.toSeq(2) ===
        longExpiry.toString, "expiry must be the lease's third line")
      // aged past the DEFAULT but inside the holder's recorded expiry:
      // fsck must report held (info), not a false crashed-holder warn
      ageLease(dir, StoreLock.DefaultLeaseExpiryMs + 60000)
      val findings = IndexFsck.fsck(spark, dir)
      assert(findings.exists(_.check == "lease_held"),
        s"expected lease_held, got ${findings.map(_.check)}")
      assert(!findings.exists(_.check == "lease_stale"),
        "a live longer-expiry holder must not warn as crashed")
    }
    // a foreign lease whose RECORDED expiry is tiny: stale by its own
    // contract even though the acquirer's default says fresh
    val idx = tmp("graft-leaseshort") + "/store"
    Files.createDirectories(Paths.get(idx))
    Files.writeString(leaseFile(idx), "99999@other-host#feedbeef\nspec\n1000\n")
    ageLease(idx, 5000)
    StoreLock.withLock(spark, idx, "spec-takeover-short") { () }
    assert(!Files.exists(leaseFile(idx)),
      "takeover by the HOLDER's recorded expiry, then normal release")
  }

  test("an expiry-based takeover DWELLS and refuses when the lease mtime " +
      "moves between the two observations (a live skewed holder's beat)") {
    val dir = tmp("graft-leasedwell") + "/store"
    Files.createDirectories(Paths.get(dir))
    // a lease that LOOKS expired to our clock (the skew shape)...
    Files.writeString(leaseFile(dir), "99999@other-host#feedbeef\nspec\n")
    ageLease(dir, StoreLock.DefaultLeaseExpiryMs + 60000)
    // ...whose holder is alive: its heartbeat refreshes mtime mid-dwell
    // (first beat lands ~500ms in — well inside the 2s dwell and after
    // the acquirer's immediate first stale observation)
    val beating = new java.util.concurrent.atomic.AtomicBoolean(true)
    val beater = new Thread(() => {
      Thread.sleep(500)
      while (beating.get) {
        try Files.setLastModifiedTime(leaseFile(dir),
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis()))
        catch { case _: java.io.IOException => () }
        Thread.sleep(200)
      }
    })
    beater.setDaemon(true)
    beater.start()
    try {
      val e = intercept[IllegalStateException] {
        StoreLock.withLock(spark, dir, "spec-dwell") {
          fail("must not acquire over a live (skew-stale-looking) holder")
        }
      }
      assert(e.getMessage.contains("lease-held") ||
        e.getMessage.contains("contending"),
        s"expected refusal, got: ${e.getMessage}")
      assert(Files.exists(leaseFile(dir)),
        "the live holder's lease must survive the refused attempt")
    } finally {
      beating.set(false)
      beater.join()
      Files.delete(leaseFile(dir))
    }
  }

  test("leaseWaitMs waits a momentary foreign hold out with backoff " +
      "instead of refusing (the shared audit-ledger shape)") {
    val dir = tmp("graft-leasewait") + "/store"
    Files.createDirectories(Paths.get(dir))
    plantForeignLease(dir)
    // the contender releases ~400ms in — a momentary collision
    val releaser = new Thread(() => {
      Thread.sleep(400)
      Files.delete(leaseFile(dir))
    })
    releaser.start()
    var ran = false
    StoreLock.withLock(spark, dir, "spec-wait", leaseWaitMs = 10000) {
      ran = true
    }
    releaser.join()
    assert(ran, "the retry must acquire once the contender released")
    assert(!Files.exists(leaseFile(dir)))
    // and with leaseWaitMs = 0 (the default), the same shape refuses
    // immediately — store-lineage writers never wait a foreign hold out
    plantForeignLease(dir)
    intercept[StoreLock.LeaseHeldException] {
      StoreLock.withLock(spark, dir, "spec-nowait") { fail("must not run") }
    }
    Files.delete(leaseFile(dir))
  }

  test("differently-spelled paths to one store map to ONE lock " +
      "(qualified-key canonicalization)") {
    val dir = tmp("graft-leasespell") + "/store"
    Files.createDirectories(Paths.get(dir))
    val release = new java.util.concurrent.CountDownLatch(1)
    val entered = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      StoreLock.withLock(spark, dir, "spec-spell-hold") {
        entered.countDown(); release.await()
      })
    holder.start()
    entered.await()
    try {
      // the same store spelled with an explicit scheme must hit the SAME
      // ReentrantLock — before canonicalization it silently got its own
      assert(StoreLock.isHeld(spark, s"file:$dir"),
        "scheme-qualified spelling must observe the plain-path hold")
      intercept[IllegalStateException] {
        StoreLock.withLock(spark, s"file:$dir", "spec-spell", waitMs = 300) {
          fail("must not run")
        }
      }
    } finally { release.countDown(); holder.join() }
  }
}

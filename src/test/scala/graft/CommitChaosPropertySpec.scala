package graft

import java.net.URI
import java.util.UUID
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.scalacheck.Gen
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.Snapshots

/** Property-based chaos soak for the commit protocol: random SCHEDULES of
  * concurrent-append phases (writers × readers × vacuum × zombie
  * plant/vanish × live-claim breaks × flaky-store read faults on the
  * writers' lock/entry probes) interleaved with quiesced torn-residue
  * injections drawn from the full dead-writer matrix (own claim, absent
  * claim, rival-held claim, double-dead) — the generalization of
  * CommitProtocolSpec's hand-written interleavings. Every schedule must
  * end with: zero operation failures, exactly one delta per version,
  * contiguous versions, and every committed file live in the final state
  * (no lost rows, no duplicate versions, no wedge).
  *
  * Torn residue is AGED via setTimes instead of sleeping out the claim
  * grace, so a hundred schedules run in seconds. Injections happen only in
  * states the protocol can reach (zombie entries are COMPLETE and planted
  * at the top; torn residue is planted quiesced at top+1 — mid-log torn
  * deltas are a documented operator-intervention state, not chaos). */
/** [[SloppyRenameFs]] that additionally injects TRANSIENT read faults
  * (open/stat erroring like a throttling object store) on lock and entry
  * files, at a per-thread probability. Armed ONLY on chaos writer threads:
  * the commit path carries an explicit fault-tolerance contract (fault-safe
  * completeness probes, flap-proof resolution progress, bounded loud
  * failure), while reader/vacuum folds answer a store error by failing the
  * query — which the soak would miscount as a protocol failure. Listings
  * stay healthy (the fault models direct object probes). */
class FlakyStoreFs extends SloppyRenameFs {
  override def getUri: URI = URI.create("flaky:///")
  private val inList = new ThreadLocal[java.lang.Boolean] {
    override def initialValue: java.lang.Boolean = false
  }
  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    inList.set(true)
    try super.listStatus(f) finally inList.set(false)
  }
  private def maybeFault(f: Path, kind: String): Unit = {
    val pct: Int = FlakyStoreFs.pct.get()
    if (pct > 0 && !inList.get() &&
        (f.getName.endsWith(".lock") || f.getName.endsWith(".snap")) &&
        java.util.concurrent.ThreadLocalRandom.current().nextInt(100) < pct)
      throw new java.io.IOException(s"injected flaky $kind fault: $f")
  }
  override def open(f: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    maybeFault(f, "read"); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus = {
    maybeFault(f, "stat"); super.getFileStatus(f)
  }
}
object FlakyStoreFs {
  /** Per-THREAD fault probability in percent; 0 = healthy. The cached pool
    * reuses threads across phases and trials, so every chaos runnable must
    * set its own value defensively (writers arm, everyone else zeroes). */
  private[graft] val pct = new ThreadLocal[Integer] {
    override def initialValue: Integer = 0
  }
}

class CommitChaosPropertySpec extends AnyFunSuite with BeforeAndAfterAll
    with GenChecks {

  private var spark: SparkSession = _
  private lazy val dir =
    java.nio.file.Files.createTempDirectory("graft-chaosprop")
  private val pool = Executors.newCachedThreadPool()

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    pool.shutdownNow()
    if (spark != null) spark.stop()
  }

  private def flakyFs(): FileSystem = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.flaky.impl", classOf[FlakyStoreFs].getName)
    conf.setBoolean("fs.flaky.impl.disable.cache", true)
    conf.setBoolean("graft.commit.atomicConditionalCreate.flaky", true)
    new Path("flaky:///").getFileSystem(conf)
  }

  // ----------------------------------------------------------- generators

  /** One concurrent phase: writers committing while optional readers fold,
    * vacuum truncates, zombies plant/vanish, and live claims break. */
  private case class Concurrent(writers: Int, perWriter: Int, readers: Int,
                                vacuum: Boolean, zombies: Boolean,
                                breakClaims: Boolean, flakyPct: Int)
  /** One quiesced torn injection at top+1. Claim state drawn from the
    * dead-writer matrix: 0 = own stale claim, 1 = no claim at all,
    * 2 = rival-held claim (rival absent → loud error, then the rival's
    * death is simulated and the residue must heal), 3 = double-dead
    * (two torn writers, claim held by the second). */
  private case class Torn(claimState: Int)
  /** One quiesced crash-recovery REPLAY at top+1: the same commitId is
    * re-driven over what its "crashed" first attempt left behind.
    * 0 = torn husk (died mid-entry-pour) — sweep and re-drive, exactly one
    * entry lands; 1 = complete entry (died after the write, before
    * returning) — the replay must ADOPT it, never double-commit;
    * 2 = torn husk plus its own stale claim. */
  private case class Replay(shape: Int)

  private val genConcurrent: Gen[Concurrent] = for {
    w <- Gen.choose(1, 3)
    p <- Gen.choose(1, 3)
    r <- Gen.choose(0, 2)
    v <- Gen.oneOf(true, false)
    z <- Gen.oneOf(true, false)
    b <- Gen.oneOf(true, false)
    // Transient store faults on the writers' lock/entry reads — half the
    // phases run healthy, the rest throttle at 5-30%.
    f <- Gen.frequency(2 -> Gen.const(0), 2 -> Gen.choose(5, 30))
  } yield Concurrent(w, p, r, v, z, b, f)

  private val genPhase: Gen[Either[Concurrent, Either[Torn, Replay]]] =
    Gen.frequency(
      3 -> genConcurrent.map(Left(_)),
      2 -> Gen.choose(0, 3).map(c => Right(Left(Torn(c)))),
      2 -> Gen.choose(0, 2).map(s => Right(Right(Replay(s)))))

  private val genSchedule: Gen[List[Either[Concurrent, Either[Torn, Replay]]]] =
    Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, genPhase))

  // ------------------------------------------------------------ execution

  private def age(fs: FileSystem, p: Path): Unit =
    fs.setTimes(p, System.currentTimeMillis() - 10 * 60 * 1000L, -1)

  private def plantTorn(fs: FileSystem, w: String, version: Long,
                        cid: String): Path = {
    val p = new Path(s"$w/_snapshots/${"%020d".format(version)}-$cid.snap")
    val out = fs.create(p, true)
    out.write(s"#OP\tappend\nADD\tt\t$w/t/torn-$cid.parquet\t\t"
      .getBytes("UTF-8"))
    out.close()
    age(fs, p)
    p
  }

  private def plantLock(fs: FileSystem, w: String, version: Long,
                        cid: String): Path = {
    val p = new Path(s"$w/_snapshots/${"%020d".format(version)}.lock")
    val out = fs.create(p, true)
    out.write(cid.getBytes("UTF-8"))
    out.close()
    age(fs, p)
    p
  }

  private def runConcurrent(fs: FileSystem, w: String, c: Concurrent,
                            appended: java.util.Set[String]): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writersDone = new CountDownLatch(c.writers)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val start = new CountDownLatch(1)
    val tasks = scala.collection.mutable.ArrayBuffer
      .empty[java.util.concurrent.Future[_]]
    (0 until c.writers).foreach { t =>
      tasks += pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          try (0 until c.perWriter).foreach { i =>
            val f = s"$w/t/w$t-$i-${UUID.randomUUID()}.parquet"
            var cid = s"c-${UUID.randomUUID()}"
            // RawLocalFileSystem's create shells out a chmod AFTER the
            // create; chaos deleting the object in that window fails the
            // whole create — an artifact real stores don't have (a PUT
            // has no after-the-fact metadata op). Retrying the append is
            // exactly what a client does on a transient store error, and
            // append is idempotent by commitId.
            var attempts = 0
            var done = false
            while (!done) {
              attempts += 1
              // Flaky phases run the first attempts under injected
              // lock/entry read faults; from the third attempt the store
              // "heals" so every file reaches a DEFINITE outcome — a
              // faulted append retried under the same commitId either
              // replays its landed entry or commits fresh, and the strict
              // no-lost-rows equality below keeps holding.
              FlakyStoreFs.pct.set(if (attempts >= 3) 0 else c.flakyPct)
              try {
                Snapshots.append(fs, w, cid,
                  adds = Seq("t" -> f), removes = Nil)
                appended.add(f)
                done = true
              } catch {
                case _: Snapshots.ConcurrentCommitException if attempts < 10 =>
                  // A replay that found a same-version rival aborts and
                  // unpublishes (honest ambiguity) — re-submit as a fresh
                  // commit, like a real client.
                  cid = s"c-${UUID.randomUUID()}"
                  Thread.sleep(2)
                case _: Snapshots.TornLogEntryException if attempts < 10 =>
                  // Documented TRANSIENT: this writer's log read caught a
                  // rival mid-entry-pour past the shrunk grace — re-drive
                  // under the same commitId (idempotent). The nap rides
                  // out a descheduled rival, not just a scheduling blip.
                  Thread.sleep(100)
                case e: Throwable
                    if attempts < 10 &&
                      Option(e.getMessage).exists(m =>
                        m.contains("chmod") || m.contains("injected flaky") ||
                          m.contains("outcome UNKNOWN")) =>
                  Thread.sleep(2)
                case e: Throwable => failures.add(e); done = true
              }
            }
          } finally {
            FlakyStoreFs.pct.set(0) // pooled thread: never leak the arming
            writersDone.countDown()
          }
        }
      })
    }
    (0 until c.readers).foreach { _ =>
      tasks += pool.submit(new Runnable {
        override def run(): Unit = { start.await()
          FlakyStoreFs.pct.set(0) // pooled thread may have been a writer
          while (!stop.get()) {
            try assert(Snapshots.snapshot(fs, w).files("t").nonEmpty)
            catch {
              // Documented TRANSIENT: a live writer mid-entry-pour past
              // the (shrunk) grace — the contract says re-drive, so the
              // reader does; the end-of-phase invariants catch any state
              // that never heals.
              case _: Snapshots.TornLogEntryException => ()
              case e: Throwable => failures.add(e); stop.set(true)
            }
            Thread.sleep(1) // don't starve writers mid-entry-pour
          } }
      })
    }
    if (c.vacuum) tasks += pool.submit(new Runnable {
      override def run(): Unit = { start.await()
        FlakyStoreFs.pct.set(0) // pooled thread may have been a writer
        while (!stop.get()) {
          try Snapshots.vacuum(fs, w, keepVersions = 8, minAgeMs = 0L)
          catch {
            // Same documented transient as the reader: maintenance
            // re-runs after a torn in-flight entry heals.
            case _: Snapshots.TornLogEntryException => ()
            // RawLocalFileSystem's create-then-chmod artifact (see the
            // writer loop): vacuum also creates lock/checkpoint files,
            // and chaos deleting one mid-create fails the shelled chmod —
            // not a store-reachable state; re-run.
            case e: Throwable
                if Option(e.getMessage).exists(_.contains("chmod")) => ()
            case e: Throwable => failures.add(e); stop.set(true)
          }
          Thread.sleep(3)
        } }
    })
    if (c.zombies || c.breakClaims) tasks += pool.submit(new Runnable {
      override def run(): Unit = { start.await()
        FlakyStoreFs.pct.set(0) // pooled thread may have been a writer
        var i = 0
        while (!stop.get()) {
          try {
            val top = Snapshots.entries(fs, w).filterNot(_.isCheckpoint)
              .lastOption
            if (c.zombies) top.foreach { last =>
              // A COMPLETE zombie entry (a rival that wrote before noticing
              // its broken claim), vanished moments later — the lifecycle
              // readers must survive via re-list.
              val p = new Path(
                s"$w/_snapshots/${"%020d".format(last.version)}-zz$i.snap")
              val dest = java.nio.file.Paths.get(p.toUri.getPath)
              val tmp = dest.resolveSibling(dest.getFileName.toString + ".t")
              java.nio.file.Files.write(tmp,
                "#OP\tappend\nADD\tzz\t/tmp/zz.parquet\t\t\n#END"
                  .getBytes("UTF-8"))
              try java.nio.file.Files.createLink(dest, tmp)
              finally java.nio.file.Files.deleteIfExists(tmp)
              Thread.sleep(2)
              fs.delete(p, false)
            }
            // Throttled: a break every ~25ms leaves room for a writer to
            // land between breaks — continuous breaking is a livelock by
            // construction (every claim dies before its entry), not a
            // reachable failure mode.
            if (c.breakClaims && i % 8 == 3) top.foreach { last =>
              // Break a LIVE claim: the affected writer self-heals (its
              // post-write re-verify deletes its own entry and retries).
              fs.delete(new Path(
                s"$w/_snapshots/${"%020d".format(last.version + 1)}.lock"),
                false)
            }
          } catch { case _: Throwable => () }
          i += 1
          Thread.sleep(3)
        } }
    })
    start.countDown()
    assert(writersDone.await(60, TimeUnit.SECONDS), "writers wedged")
    stop.set(true)
    // JOIN every phase thread: a stale reader/vacuum/chaos iteration
    // bleeding into the next (possibly quiesced) phase would corrupt it.
    tasks.foreach(t => t.get(60, TimeUnit.SECONDS))
    assert(failures.isEmpty, s"concurrent phase failed: ${failures.peek()}")
  }

  private def dumpLog(fs: FileSystem, w: String): String =
    try fs.listStatus(new Path(s"$w/_snapshots")).map(_.getPath.getName)
      .sorted.mkString("[", ", ", "]")
    catch { case e: Throwable => s"<unlistable: $e>" }

  private def runTorn(fs: FileSystem, w: String, t: Torn): Unit = {
    val top = Snapshots.entries(fs, w).filterNot(_.isCheckpoint)
      .lastOption.map(_.version).getOrElse(-1L)
    val v = top + 1
    val cid = s"dead-${UUID.randomUUID()}"
    val torn = plantTorn(fs, w, v, cid)
    t.claimState match {
      case 0 => // own stale claim: sweep breaks it and heals
        plantLock(fs, w, v, cid)
        assert(Snapshots.snapshot(fs, w).version.nonEmpty)
        assert(!fs.exists(torn), "own-claim torn residue must self-heal")
      case 1 => // no claim: heals directly
        fs.delete(new Path(s"$w/_snapshots/${"%020d".format(v)}.lock"), false)
        assert(Snapshots.snapshot(fs, w).version.nonEmpty)
        assert(!fs.exists(torn), "unclaimed torn residue must self-heal")
      case 2 => // rival-held, rival absent: loud error, nothing deleted...
        plantLock(fs, w, v, s"rival-${UUID.randomUUID()}")
        intercept[Snapshots.TornLogEntryException](
          Snapshots.snapshot(fs, w))
        assert(fs.exists(torn), "rival-claimed residue must not be swept")
        // ...until the rival dies (claim removed): then it heals.
        fs.delete(new Path(s"$w/_snapshots/${"%020d".format(v)}.lock"), false)
        assert(Snapshots.snapshot(fs, w).version.nonEmpty)
        assert(!fs.exists(torn))
      case _ => // double-dead: holder recursion sweeps both
        val cid2 = s"dead2-${UUID.randomUUID()}"
        val torn2 = plantTorn(fs, w, v, cid2)
        plantLock(fs, w, v, cid2)
        assert(Snapshots.snapshot(fs, w).version.nonEmpty)
        assert(!fs.exists(torn) && !fs.exists(torn2),
          "double-dead residue must fully self-heal")
    }
    // The freed version is claimable again — life goes on.
    Snapshots.append(fs, w, s"post-${UUID.randomUUID()}",
      adds = Seq("t" -> s"$w/t/post-$v.parquet"), removes = Nil)
  }

  private def runReplay(fs: FileSystem, w: String, r: Replay,
                        appended: java.util.Set[String]): Unit = {
    val top = Snapshots.entries(fs, w).filterNot(_.isCheckpoint)
      .lastOption.map(_.version).getOrElse(-1L)
    val v = top + 1
    val cid = s"replay-${UUID.randomUUID()}"
    val f = s"$w/t/replay-$v-${UUID.randomUUID()}.parquet"
    r.shape match {
      case 0 => plantTorn2(fs, w, v, cid, f)
      case 1 =>
        // Crashed AFTER the entry write, before returning: a complete
        // entry already carries the batch.
        val p = new Path(s"$w/_snapshots/${"%020d".format(v)}-$cid.snap")
        val out = fs.create(p, true)
        out.write(s"#OP\tappend\nADD\tt\t$f\t\t\n#END".getBytes("UTF-8"))
        out.close()
        age(fs, p)
      case _ =>
        plantTorn2(fs, w, v, cid, f)
        plantLock(fs, w, v, cid)
    }
    Snapshots.append(fs, w, cid, adds = Seq("t" -> f), removes = Nil,
      replay = true)
    appended.add(f)
    val minted = Snapshots.entries(fs, w)
      .filterNot(_.isCheckpoint).count(_.commitId == cid)
    assert(minted == 1,
      s"replay shape ${r.shape} minted $minted entries for $cid " +
        s"(log=${dumpLog(fs, w)})")
  }

  /** [[plantTorn]] with the husk carrying the file the replay re-drives —
    * so adopting a swept husk vs re-driving fresh is indistinguishable in
    * the final file set (exactly one landing either way). */
  private def plantTorn2(fs: FileSystem, w: String, version: Long,
                         cid: String, file: String): Path = {
    val p = new Path(s"$w/_snapshots/${"%020d".format(version)}-$cid.snap")
    val out = fs.create(p, true)
    out.write(s"#OP\tappend\nADD\tt\t$file\t\t".getBytes("UTF-8"))
    out.close()
    age(fs, p)
    p
  }

  test("100 random chaos schedules: no lost rows, no duplicate versions, no wedge") {
    val fs = flakyFs()
    // Generous grace: aged-mtime planting means sweeps never WAIT it out,
    // but a writer mid-entry-pour under 100-trial thread load must not be
    // misread as torn by a racing reader.
    sys.props("graft.test.claimGraceMs") = "1000"
    try {
      var trial = 0
      // Default 100 schedules per run; soak runs scale it up via
      //   sbt -batch 'set Test/javaOptions += "-Dgraft.test.chaosTrials=500"' …
      val trials = sys.props.get("graft.test.chaosTrials").map(_.toInt).getOrElse(100)
      forAll(genSchedule, trials = trials) { schedule =>
        trial += 1
        val w = dir.resolve(s"wh$trial").toString
        val appended =
          java.util.Collections.newSetFromMap(
            new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())
        // Seed commit so readers always have state to fold.
        val seed = s"$w/t/seed.parquet"
        Snapshots.append(fs, w, s"seed-${UUID.randomUUID()}",
          adds = Seq("t" -> seed), removes = Nil)
        appended.add(seed)
        var torns = 0
        schedule.foreach {
          case Left(c) => runConcurrent(fs, w, c, appended)
          case Right(Left(t)) => runTorn(fs, w, t); torns += 1
          case Right(Right(r)) => runReplay(fs, w, r, appended)
        }
        // Invariants. Chaos zombies caught mid-lifecycle are swept first
        // (they are rival-complete entries, exactly what a winner sweeps).
        fs.globStatus(new Path(s"$w/_snapshots/*-zz*.snap"))
          .foreach(st => fs.delete(st.getPath, false))
        val deltas = Snapshots.entries(fs, w).filterNot(_.isCheckpoint)
        val versions = deltas.map(_.version)
        assert(versions.distinct.size == versions.size,
          s"duplicate versions: $versions (schedule $schedule)")
        assert(versions == (versions.min to versions.max),
          s"version hole: $versions (schedule $schedule)")
        val files = Snapshots.snapshot(fs, w).files("t").map(_.file).toSet
        val expected = appended.size + torns // each torn phase post-appends
        assert(files.size == expected,
          s"lost rows: ${files.size} of $expected files live " +
            s"(missing: ${appended.toArray.filterNot(f => files(f.toString))
              .mkString(",")}) (schedule $schedule) log=${dumpLog(fs, w)}")
      }
    } finally sys.props.remove("graft.test.claimGraceMs")
  }
}

package graft

import org.apache.hadoop.fs.{Path => HPath}
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{ManifestStore, Mode, Registry, Runner, TableDef, WriteMode}
import graft.core.ScratchDirs

/** Crash-safety contract of the manifest-last publish: readers must see
  * ONE complete generation at every possible writer crash point — never
  * a mix — and a replayed batch must converge to the same table. */
class ManifestStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fs(root: String) =
    new HPath(root).getFileSystem(
      spark.sessionState.newHadoopConf())

  /** Run `body` with commit-time GC collecting unreferenced generations
    * IMMEDIATELY — production keeps young orphans for the grace window
    * so a concurrent writer's in-flight staging survives, which is
    * exactly what the orphan-collection tests must bypass. */
  private def withZeroOrphanGrace[A](body: => A): A = {
    val saved = spark.conf.getOption(ManifestStore.OrphanGraceKey)
    spark.conf.set(ManifestStore.OrphanGraceKey, "-1") // now - mtime > -1
    try body finally saved match {
      case Some(v) => spark.conf.set(ManifestStore.OrphanGraceKey, v)
      case None => spark.conf.unset(ManifestStore.OrphanGraceKey)
    }
  }

  private def snapshot(root: String): Map[Long, (Long, String)] =
    ManifestStore.read(spark, root)
      .select("k", "seq", "v").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap

  test("upsert round trip: pruned merge, cross-generation reads, key rules") {
    val sp = spark
    import sp.implicits._
    val root = ScratchDirs.create("mstore_rt")
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 1L, "a", 0), (2L, 1L, "b", 0), (3L, 1L, "c", 1))
        .toDF("k", "seq", "v", "bucket"))
    // second batch touches ONLY bucket 0; bucket 1 must carry forward
    // by reference from generation 1
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((2L, 5L, "B", 0), (2L, 3L, "stale", 0)).toDF("k", "seq", "v", "bucket"))
    assert(snapshot(root) ===
      Map(1L -> (1L, "a"), 2L -> (5L, "B"), 3L -> (1L, "c")))
    val m = ManifestStore.readManifest(fs(root), root).get
    assert(m.version === 2L)
    assert(m.entries("bucket=1").startsWith("_gen/g00000001-"),
      "untouched partition must still point at the old generation")
    assert(m.entries("bucket=0").startsWith("_gen/g00000002-"),
      "touched partition must point at the new generation")
  }

  test("schema in the manifest: repeat upserts on '00'-style string " +
    "partitions, and a full purge leaves a readable empty table") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    val root = ScratchDirs.create("mstore_sch")
    // batch 1 writes dirs bucket=00/bucket=7; batch 2 TOUCHES bucket=00,
    // so the merge re-reads the old generation — unpinned inference
    // would re-type '00' to int 0 and the staged-key drift check would
    // throw, bricking the table (the pre-schema-manifest regression)
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 1L, "00"), (2L, 1L, "7")).toDF("k", "seq", "bucket"))
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 5L, "00")).toDF("k", "seq", "bucket"))
    val m = ManifestStore.readManifest(fs(root), root).get
    assert(m.entries.keySet === Set("bucket=00", "bucket=7"))
    assert(ManifestStore.read(spark, root).select("k", "seq").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 5L), (2L, 1L)))
    // the read pins the recorded schema: bucket stays a STRING
    assert(ManifestStore.read(spark, root).schema("bucket").dataType
      === org.apache.spark.sql.types.StringType)
    // full right-to-be-forgotten purge: the table becomes EMPTY, not
    // broken — the read still works off the recorded schema
    ManifestStore.deleteKeys(root, Seq("k"), Seq("bucket"))(
      Seq((1L, "00"), (2L, "7")).toDF("k", "bucket"))
    val purged = ManifestStore.read(spark, root)
    assert(purged.isEmpty &&
      purged.schema.fieldNames.toSet === Set("k", "seq", "bucket"))
    // and the table repopulates normally afterwards
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((9L, 1L, "7")).toDF("k", "seq", "bucket"))
    assert(ManifestStore.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet === Set(9L))
  }

  test("a narrower batch touching only NEW partitions must not narrow " +
    "the recorded schema") {
    val sp = spark
    import sp.implicits._
    val root = ScratchDirs.create("mstore_sw")
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 1L, "val1", 0)).toDF("k", "seq", "v", "bucket"))
    // batch without column v, landing ONLY in new bucket 1 — the merge
    // never reads bucket 0, so only the schema-union keeps v in the log
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((2L, 1L, 1)).toDF("k", "seq", "bucket"))
    val m = ManifestStore.readManifest(fs(root), root).get
    assert(m.schema.get.fieldNames.contains("v"),
      "recorded schema must stay a superset (column v)")
    // a rewrite of bucket 0 (pinned to the recorded schema) keeps v
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((3L, 1L, "val3", 0)).toDF("k", "seq", "v", "bucket"))
    val rows = ManifestStore.read(spark, root)
      .select("k", "v").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows === Map(1L -> Some("val1"), 2L -> None, 3L -> Some("val3")),
      s"column v must survive the narrow batch, got $rows")
  }

  // THE crash test the old dynamic-overwrite upsert could not pass: the
  // writer dies after staging some (or all) of the new generation's
  // partition directories but before the manifest commit. In the old
  // scheme those were live per-partition commits and a reader saw a mix;
  // here the reader must stay pinned to the previous snapshot, and the
  // replayed batch must converge. An unpartitioned table (its one
  // partition keyed "") commits through the same protocol.
  test("writer killed between partition writes and commit: readers see the old snapshot") {
    val sp = spark
    import sp.implicits._
    for (parts <- Seq(Seq("bucket"), Nil)) {
      val root = ScratchDirs.create("mstore_crash")
      ManifestStore.upsert(root, Seq("k"), "seq", Nil, parts)(
        Seq((1L, 1L, "a", 0), (2L, 1L, "b", 1), (3L, 1L, "c", 2))
          .toDF("k", "seq", "v", "bucket"))
      val before = snapshot(root)

      // simulated kill #1: a PARTIAL generation — only part of the
      // touched rows got written before the crash
      val partialGen = s"$root/_gen/g00000002"
      Seq((1L, 9L, "APARTIAL", 0)).toDF("k", "seq", "v", "bucket")
        .write.partitionBy(parts: _*).parquet(partialGen)
      assert(snapshot(root) === before,
        s"a half-staged generation must be invisible to readers ($parts)")

      // simulated kill #2: the FULL generation staged, manifest not yet
      // committed (stageGeneration without publish = dying one
      // instruction before the rename)
      val staged = ManifestStore.stageGeneration(root, parts,
        Seq((1L, 9L, "A", 0), (2L, 9L, "B", 1)).toDF("k", "seq", "v", "bucket"),
        version = 2L)
      assert(staged.keySet ===
        (if (parts.isEmpty) Set("") else Set("bucket=0", "bucket=1")))
      assert(snapshot(root) === before,
        s"a fully-staged but uncommitted generation must be invisible ($parts)")
      assert(ManifestStore.readManifest(fs(root), root).get.version === 1L)

      // replay: the batch that "crashed" runs again end-to-end and must
      // converge — the merge is idempotent and the orphan staging dir
      // from the dead writer is simply overwritten
      ManifestStore.upsert(root, Seq("k"), "seq", Nil, parts)(
        Seq((1L, 9L, "A", 0), (2L, 9L, "B", 1)).toDF("k", "seq", "v", "bucket"))
      assert(snapshot(root) ===
        Map(1L -> (9L, "A"), 2L -> (9L, "B"), 3L -> (1L, "c")))
      assert(ManifestStore.readManifest(fs(root), root).get.version === 2L)
    }
  }

  test("publish is the single atomic flip: old state before, new state after") {
    val sp = spark
    import sp.implicits._
    val root = ScratchDirs.create("mstore_flip")
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 1L, "a", 0), (2L, 1L, "b", 1)).toDF("k", "seq", "v", "bucket"))
    val prev = ManifestStore.readManifest(fs(root), root)
    val staged = ManifestStore.stageGeneration(root, Seq("bucket"),
      Seq((1L, 7L, "A", 0), (2L, 7L, "B", 1)).toDF("k", "seq", "v", "bucket"),
      version = 2L)
    assert(snapshot(root) === Map(1L -> (1L, "a"), 2L -> (1L, "b")))
    ManifestStore.publish(spark, root,
      prev.get.copy(entries = prev.get.entries ++ staged), prev)
    assert(snapshot(root) === Map(1L -> (7L, "A"), 2L -> (7L, "B")),
      "the manifest rename flips EVERY partition at once")
  }

  test("OCC: two writers race the same head — exactly one wins, the " +
      "loser throws, no mixed state") {
    val sp = spark
    import sp.implicits._
    val root = ScratchDirs.create("mstore_occ")
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 1L, "a", 0), (2L, 1L, "b", 1)).toDF("k", "seq", "v", "bucket"))
    // writers A and B both read head v1 and stage their own v2 — the
    // accidental-second-writer pattern (two schedulers on one table)
    val prev = ManifestStore.readManifest(fs(root), root)
    val stagedA = ManifestStore.stageGeneration(root, Seq("bucket"),
      Seq((1L, 7L, "A", 0), (2L, 7L, "A", 1)).toDF("k", "seq", "v", "bucket"),
      version = 2L)
    val stagedB = ManifestStore.stageGeneration(root, Seq("bucket"),
      Seq((1L, 8L, "B", 0), (2L, 8L, "B", 1)).toDF("k", "seq", "v", "bucket"),
      version = 2L)
    // nonce'd staging dirs: B's stage must NOT have clobbered A's bytes
    assert(stagedA.values.toSet.intersect(stagedB.values.toSet).isEmpty,
      "concurrent stagings must land in disjoint generation dirs")
    // A commits first and wins
    ManifestStore.publish(spark, root,
      prev.get.copy(entries = prev.get.entries ++ stagedA), prev)
    assert(snapshot(root) === Map(1L -> (7L, "A"), 2L -> (7L, "A")))
    // B commits against the stale head and must FAIL LOUDLY
    val e = intercept[java.util.ConcurrentModificationException] {
      ManifestStore.publish(spark, root,
        prev.get.copy(entries = prev.get.entries ++ stagedB), prev)
    }
    assert(e.getMessage.contains("second writer"))
    // winner's state intact — B's bytes never became visible
    assert(snapshot(root) === Map(1L -> (7L, "A"), 2L -> (7L, "A")),
      "the losing writer must not perturb the winner's committed state")
    assert(ManifestStore.readManifest(fs(root), root).get.version === 2L)
    // B's orphaned generation is unreferenced; a NEXT commit's GC
    // collects it once it ages past the orphan grace window (grace
    // zeroed here — in production the window keeps a CONCURRENT
    // writer's in-flight staging alive until it publishes)
    withZeroOrphanGrace {
      ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
        Seq((1L, 9L, "c", 0)).toDF("k", "seq", "v", "bucket"))
    }
    val live = fs(root).listStatus(new HPath(s"$root/_gen"))
      .map(_.getPath.getName).toSet
    assert(!live.exists(g => stagedB.values.exists(_.contains(g))),
      s"loser's staging dir must be GC'd at the next commit, got $live")
    assert(snapshot(root) === Map(1L -> (9L, "c"), 2L -> (7L, "A")))
  }

  test("retry-and-rebase: a writer losing OCC to a DISJOINT commit " +
      "rebases and BOTH writes land") {
    val sp = spark
    import sp.implicits._
    val root = ScratchDirs.create("mstore_rebase")
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 1L, "a", 0), (2L, 1L, "b", 1)).toDF("k", "seq", "v", "bucket"))
    // writer A stages against head v1 touching ONLY bucket 0; the hook
    // fires after A staged and lets writer B commit v2 touching ONLY
    // bucket 1 — the deterministic interleave of the classic race
    var bEntry: Option[String] = None
    ManifestStore.upsertHooked(root, Seq("k"), "seq", Nil, Seq("bucket"),
      beforePublish = () => {
        ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
          Seq((2L, 5L, "B", 1)).toDF("k", "seq", "v", "bucket"))
        bEntry = Some(ManifestStore.readManifest(fs(root), root)
          .get.entries("bucket=1"))
      })(Seq((1L, 5L, "A", 0)).toDF("k", "seq", "v", "bucket"))
    // disjoint touched sets: A must have REBASED onto B's v2 → v3,
    // with both writes visible and neither partition lost
    val m = ManifestStore.readManifest(fs(root), root).get
    assert(m.version === 3L, "loser must rebase to head+1, not fail")
    assert(snapshot(root) === Map(1L -> (5L, "A"), 2L -> (5L, "B")))
    // A's rebased manifest must carry B's bucket-1 entry VERBATIM, not
    // the stale v1 one it originally staged against. (Both writers
    // staged against head v1, so both generation dirs carry the
    // g00000002 version LABEL — only the nonce tells them apart.)
    assert(m.entries("bucket=1") === bEntry.get,
      s"rebase must keep the interleaved commit's entries, got ${m.entries}")
    assert(m.entries("bucket=0") !== bEntry.get,
      "A's own partition points at A's staged generation")
  }

  test("retry-and-rebase: an OVERLAPPING interleaved commit is a true " +
      "conflict — fail loudly, keep the winner") {
    val sp = spark
    import sp.implicits._
    val root = ScratchDirs.create("mstore_conflict")
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 1L, "a", 0), (2L, 1L, "b", 1)).toDF("k", "seq", "v", "bucket"))
    val e = intercept[java.util.ConcurrentModificationException] {
      ManifestStore.upsertHooked(root, Seq("k"), "seq", Nil, Seq("bucket"),
        beforePublish = () => {
          // the competing writer rewrites bucket 0 — the SAME partition
          ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
            Seq((1L, 9L, "B", 0)).toDF("k", "seq", "v", "bucket"))
        })(Seq((1L, 5L, "A", 0)).toDF("k", "seq", "v", "bucket"))
    }
    assert(e.getMessage.contains("true write conflict"))
    assert(e.getMessage.contains("bucket=0"))
    // the winner's commit is intact; the loser changed nothing
    assert(ManifestStore.readManifest(fs(root), root).get.version === 2L)
    assert(snapshot(root) === Map(1L -> (9L, "B"), 2L -> (1L, "b")))
  }

  test("retry-and-rebase: two THREADED writers on disjoint partitions " +
      "both commit") {
    val sp = spark
    import sp.implicits._
    val root = ScratchDirs.create("mstore_race2")
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 1L, "a", 0), (2L, 1L, "b", 1)).toDF("k", "seq", "v", "bucket"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    def writer(k: Long, bucket: Int, v: String) = new Thread(() => {
      try {
        gate.await()
        ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
          Seq((k, 7L, v, bucket)).toDF("k", "seq", "v", "bucket"))
      } catch { case t: Throwable => errs.add(t) }
    })
    val ts = Seq(writer(1L, 0, "A"), writer(2L, 1, "B"))
    ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join(120000))
    assert(errs.isEmpty, s"both disjoint writers must commit: ${errs}")
    assert(ManifestStore.readManifest(fs(root), root).get.version === 3L)
    assert(snapshot(root) === Map(1L -> (7L, "A"), 2L -> (7L, "B")))
  }

  test("retry-and-rebase: a DELETE losing OCC to a disjoint upsert " +
      "rebases and BOTH effects land") {
    val sp = spark
    import sp.implicits._
    val root = ScratchDirs.create("mstore_delrebase")
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 1L, "a", 0), (2L, 1L, "b", 0), (3L, 1L, "c", 1))
        .toDF("k", "seq", "v", "bucket"))
    // the delete touches ONLY bucket 0; the hook fires after it staged
    // its rewrite and lets a writer commit v2 touching ONLY bucket 1
    var writerEntry: Option[String] = None
    ManifestStore.deleteKeysHooked(root, Seq("k"), Seq("bucket"),
      beforePublish = () => {
        ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
          Seq((3L, 5L, "C", 1)).toDF("k", "seq", "v", "bucket"))
        writerEntry = Some(ManifestStore.readManifest(fs(root), root)
          .get.entries("bucket=1"))
      })(Seq((1L, 0)).toDF("k", "bucket"))
    val m = ManifestStore.readManifest(fs(root), root).get
    assert(m.version === 3L, "losing delete must rebase to head+1")
    // both effects: k=1 deleted AND the concurrent upsert's k=3 update
    assert(snapshot(root) === Map(2L -> (1L, "b"), 3L -> (5L, "C")))
    assert(m.entries("bucket=1") === writerEntry.get,
      "rebased delete must carry the interleaved commit's entry verbatim")
  }

  test("retry-and-rebase: a DELETE racing an OVERLAPPING upsert is a " +
      "true conflict — fail loudly, keep the winner") {
    val sp = spark
    import sp.implicits._
    val root = ScratchDirs.create("mstore_delconf")
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 1L, "a", 0), (2L, 1L, "b", 1)).toDF("k", "seq", "v", "bucket"))
    val e = intercept[java.util.ConcurrentModificationException] {
      ManifestStore.deleteKeysHooked(root, Seq("k"), Seq("bucket"),
        beforePublish = () => {
          // the competing writer rewrites bucket 0 — the partition the
          // delete is about to rewrite from its now-stale snapshot
          ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
            Seq((1L, 9L, "B", 0)).toDF("k", "seq", "v", "bucket"))
        })(Seq((1L, 0)).toDF("k", "bucket"))
    }
    assert(e.getMessage.contains("true write conflict"))
    assert(e.getMessage.contains("bucket=0"))
    // the winner's commit is intact; the failed delete changed nothing
    assert(ManifestStore.readManifest(fs(root), root).get.version === 2L)
    assert(snapshot(root) === Map(1L -> (9L, "B"), 2L -> (1L, "b")))
  }

  test("commitRename is exclusive: an existing destination loses the " +
      "race loudly and keeps the winner's bytes") {
    val root = ScratchDirs.create("mstore_cr")
    val f = fs(root)
    def write(p: HPath, s: String): Unit = {
      val o = f.create(p, true); try o.write(s.getBytes("UTF-8")) finally o.close()
    }
    def slurp(p: HPath): String = {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    val dst = new HPath(s"$root/v2.json")
    // success path: destination absent → rename lands
    write(new HPath(s"$root/.tmp-a.json"), "winner")
    ManifestStore.commitRename(f, new HPath(s"$root/.tmp-a.json"), dst, "t v2")
    assert(slurp(dst) === "winner")
    // race path: a second writer passed the head check in the same
    // window and staged its own v2 — FileSystem.rename on the local FS
    // would silently OVERWRITE the winner; the FileContext commit must
    // refuse, throw the OCC exception, and clean its temp file
    write(new HPath(s"$root/.tmp-b.json"), "loser")
    val e = intercept[java.util.ConcurrentModificationException] {
      ManifestStore.commitRename(f, new HPath(s"$root/.tmp-b.json"), dst,
        "t v2")
    }
    assert(e.getMessage.contains("concurrent writer"))
    assert(slurp(dst) === "winner",
      "the loser's rename must not replace the committed manifest")
    assert(!f.exists(new HPath(s"$root/.tmp-b.json")),
      "the loser's temp manifest must be cleaned up")
  }

  test("foreign files in _manifest/ are ignored, not fatal") {
    val sp = spark
    import sp.implicits._
    val root = ScratchDirs.create("mstore_foreign")
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 1L, "a", 0)).toDF("k", "seq", "v", "bucket"))
    // a stray non-conforming file (backup, editor dropping) must not
    // brick the table with NumberFormatException
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(root, "_manifest", "vbackup.json"), "{}")
    assert(ManifestStore.currentVersion(fs(root), root) === Some(1L))
    assert(snapshot(root) === Map(1L -> (1L, "a")))
    // and a subsequent commit (whose GC walks _manifest/) still works
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 2L, "b", 0)).toDF("k", "seq", "v", "bucket"))
    assert(snapshot(root) === Map(1L -> (2L, "b")))
  }

  test("GC keeps the previous generation as reader grace, then collects it") {
    val sp = spark
    import sp.implicits._
    val root = ScratchDirs.create("mstore_gc")
    def gens(): Set[String] = {
      val p = new HPath(s"$root/_gen")
      fs(root).listStatus(p).map(_.getPath.getName).toSet
    }
    def batch(seq: Long) = ManifestStore.upsert(
      root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, seq, s"v$seq", 0)).toDF("k", "seq", "v", "bucket"))
    batch(1); batch(2)
    // dir names carry a writer nonce (r12) — compare the version prefix
    assert(gens().map(_.take(9)) === Set("g00000001", "g00000002"),
      "previous generation retained for concurrent readers")
    withZeroOrphanGrace { batch(3) }
    assert(gens().map(_.take(9)) === Set("g00000002", "g00000003"),
      "two-generations-old data collected")
    assert(snapshot(root) === Map(1L -> (3L, "v3")))
  }

  test("readVersion time-travels within the GC grace window") {
    val sp = spark
    import sp.implicits._
    val root = ScratchDirs.create("mstore_tt")
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 1L, "old", 0)).toDF("k", "seq", "v", "bucket"))
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 5L, "new", 0)).toDF("k", "seq", "v", "bucket"))
    // previous version still readable (the concurrent-reader guarantee)
    val v1 = ManifestStore.readVersion(sp, root, 1L)
      .select("v").head().getString(0)
    assert(v1 === "old")
    assert(ManifestStore.read(sp, root).select("v").head().getString(0) === "new")
    // a third commit GCs version 1
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 9L, "newest", 0)).toDF("k", "seq", "v", "bucket"))
    assertThrows[IllegalStateException](
      ManifestStore.readVersion(sp, root, 1L))
    assert(ManifestStore.readVersion(sp, root, 2L)
      .select("v").head().getString(0) === "new")
  }

  test("deleteKeys rewrites only touched partitions and drops emptied ones") {
    val sp = spark
    import sp.implicits._
    val root = ScratchDirs.create("mstore_del")
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 1L, "a", 0), (2L, 1L, "b", 0), (3L, 1L, "c", 1),
        (4L, 1L, "d", 2)).toDF("k", "seq", "v", "bucket"))
    val entryB2 = ManifestStore.readManifest(fs(root), root).get
      .entries("bucket=2")
    // delete key 1 (partial bucket 0) and key 3 (ALL of bucket 1);
    // bucket 2 untouched
    ManifestStore.deleteKeys(root, Seq("k"), Seq("bucket"))(
      Seq((1L, 0), (3L, 1)).toDF("k", "bucket"))
    assert(snapshot(root) === Map(2L -> (1L, "b"), 4L -> (1L, "d")))
    val m = ManifestStore.readManifest(fs(root), root).get
    assert(!m.entries.contains("bucket=1"),
      "a fully-deleted partition must leave the manifest")
    assert(m.entries("bucket=0").startsWith("_gen/g00000002-"),
      "the partially-deleted partition was rewritten")
    assert(m.entries("bucket=2") === entryB2,
      "the untouched partition carries forward by reference")
    // idempotent replay (the crash-retry path)
    ManifestStore.deleteKeys(root, Seq("k"), Seq("bucket"))(
      Seq((1L, 0), (3L, 1)).toDF("k", "bucket"))
    assert(snapshot(root) === Map(2L -> (1L, "b"), 4L -> (1L, "d")))
    // deleting keys that were never stored is a no-op
    ManifestStore.deleteKeys(root, Seq("k"), Seq("bucket"))(
      Seq((99L, 7)).toDF("k", "bucket"))
    assert(snapshot(root) === Map(2L -> (1L, "b"), 4L -> (1L, "d")))
  }

  test("deletion vectors: merge-on-read hides rows without rewriting, " +
      "accumulates, and every rewrite materializes + clears") {
    val sp = spark
    import sp.implicits._
    val root = ScratchDirs.create("mstore_dv")
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 1L, "a", 0), (2L, 1L, "b", 0), (3L, 1L, "c", 1),
        (4L, 1L, "d", 2)).toDF("k", "seq", "v", "bucket"))
    val entries1 = ManifestStore.readManifest(fs(root), root).get.entries
    // vector-delete key 1: NO data rewrite — entries unchanged, one
    // sidecar recorded, reads hide the row
    ManifestStore.deleteKeysVector(root, Seq("k"), Seq("bucket"))(
      Seq((1L, 0)).toDF("k", "bucket"))
    val m1 = ManifestStore.readManifest(fs(root), root).get
    assert(m1.entries === entries1, "vector delete must not rewrite data")
    assert(m1.deletes.keySet === Set("bucket=0") &&
      m1.deleteKeyCols === Seq("k"))
    assert(snapshot(root) ===
      Map(2L -> (1L, "b"), 3L -> (1L, "c"), 4L -> (1L, "d")))
    // a filtered read of the deleting partition applies the vector too
    assert(ManifestStore.read(sp, root)
      .filter(org.apache.spark.sql.functions.col("bucket") === 0)
      .select("k").collect().map(_.getLong(0)).toSet === Set(2L))
    // accumulation: a second vector delete on the same partition unions
    ManifestStore.deleteKeysVector(root, Seq("k"), Seq("bucket"))(
      Seq((2L, 0), (3L, 1)).toDF("k", "bucket"))
    val m2 = ManifestStore.readManifest(fs(root), root).get
    assert(m2.deletes.keySet === Set("bucket=0", "bucket=1"))
    assert(snapshot(root) === Map(4L -> (1L, "d")))
    // unreferenced sidecar generations are GC'd after the grace window;
    // the accumulated vector (both keys) survives in the NEW sidecar
    assert(m2.deletes("bucket=0") !== m1.deletes("bucket=0"),
      "accumulation replaces the partition's sidecar")
    // vector deletes for keys never stored are a no-op commit
    ManifestStore.deleteKeysVector(root, Seq("k"), Seq("bucket"))(
      Seq((99L, 7)).toDF("k", "bucket"))
    assert(ManifestStore.readManifest(fs(root), root).get.version ===
      m2.version, "untouched key space must not burn a version")
    // an upsert touching bucket=0 materializes its vector: the deleted
    // keys must NOT resurrect from the pre-delete bytes, and the
    // partition's vector clears; bucket=1 keeps its vector
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((5L, 1L, "e", 0)).toDF("k", "seq", "v", "bucket"))
    val m3 = ManifestStore.readManifest(fs(root), root).get
    assert(m3.deletes.keySet === Set("bucket=1"),
      "rewrite materializes and clears the touched partition's vector")
    assert(snapshot(root) === Map(4L -> (1L, "d"), 5L -> (1L, "e")))
    // a copy-on-write delete materializes bucket=1's vector: the
    // partition (fully deleted) vanishes, no vectors remain, data
    // identical
    ManifestStore.deleteKeys(root, Seq("k"), Seq("bucket"))(
      Seq((3L, 1)).toDF("k", "bucket"))
    val m4 = ManifestStore.readManifest(fs(root), root).get
    assert(m4.deletes.isEmpty, "compaction forgets the deleted bytes")
    assert(!m4.entries.contains("bucket=1"),
      "a partition fully deleted by its vector leaves the manifest")
    assert(snapshot(root) === Map(4L -> (1L, "d"), 5L -> (1L, "e")))
    // one key set per table: the k-keyed setup call must SUCCEED
    // (outside the intercept — a failure there must fail the test, not
    // satisfy it vacuously), then the v-keyed call must refuse
    ManifestStore.deleteKeysVector(root, Seq("k"), Seq("bucket"))(
      Seq((4L, 2)).toDF("k", "bucket"))
    intercept[IllegalArgumentException] {
      ManifestStore.deleteKeysVector(root, Seq("v"), Seq("bucket"))(
        Seq(("d", 2)).toDF("v", "bucket"))
    }
  }

  test("change data feed: classifies insert/update/delete, emits nothing " +
      "for unchanged rows, and reads only moved entries") {
    val sp = spark
    import sp.implicits._
    val root = ScratchDirs.create("mstore_cdf")
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 1L, "a", 0), (2L, 1L, "b", 0), (3L, 1L, "c", 1),
        (4L, 1L, "d", 2)).toDF("k", "seq", "v", "bucket"))
    // v2: update k=1, insert k=9 — bucket 1 and 2 untouched
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 2L, "A", 0), (9L, 1L, "i", 0)).toDF("k", "seq", "v", "bucket"))
    val feed = ManifestStore.changes(sp, root, 1L, 2L, Seq("k"))
      .select("k", "v", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(feed === Set((1L, "A", "update", 2L), (9L, "i", "insert", 2L)),
      "post-images for update/insert; k=2 (unchanged, same rewritten " +
        "partition) and buckets 1/2 (carried by reference) emit nothing")
    // v3: a VECTOR delete must surface as delete rows with pre-images
    ManifestStore.deleteKeysVector(root, Seq("k"), Seq("bucket"))(
      Seq((2L, 0), (3L, 1)).toDF("k", "bucket"))
    val feed2 = ManifestStore.changes(sp, root, 2L, 3L, Seq("k"))
      .select("k", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed2 === Set((2L, "b", "delete"), (3L, "c", "delete")),
      "vector deletes are delete rows with pre-images")
    // beyond the grace window → loud, never silently empty
    intercept[IllegalStateException] {
      ManifestStore.changes(sp, root, 1L, 3L, Seq("k"))
    }
  }

  test("change feed survives a fully-dropped partition and escaping " +
      "partition values; vector deletes escape keys like the writer") {
    val sp = spark
    import sp.implicits._
    val root = ScratchDirs.create("mstore_cdf2")
    // partition values with spaces/equals — the hive-escaping edge
    ManifestStore.upsert(root, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 1L, "a", "has space"), (2L, 1L, "b", "has space"),
        (3L, 1L, "c", "x=y")).toDF("k", "seq", "v", "bucket"))
    // COW-delete ALL of 'x=y': its entry leaves the manifest entirely
    ManifestStore.deleteKeys(root, Seq("k"), Seq("bucket"))(
      Seq((3L, "x=y")).toDF("k", "bucket"))
    val feed = ManifestStore.changes(sp, root, 1L, 2L, Seq("k"))
      .select("k", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed === Set((3L, "c", "delete")),
      "a dropped-entry partition must surface its rows as deletes")
    // vector delete against the escaping partition: the sidecar's
    // hive dir must encode exactly like the data dir or the vector
    // silently misses its partition
    ManifestStore.deleteKeysVector(root, Seq("k"), Seq("bucket"))(
      Seq((1L, "has space")).toDF("k", "bucket"))
    val rows = ManifestStore.read(sp, root)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(rows === Set(2L), "escaped-partition vector must apply")
    val m = ManifestStore.readManifest(fs(root), root).get
    assert(m.deletes.keySet ===
      Set(ManifestStore.encodeKeyForTest(Seq("bucket"), Seq("has space"))),
      "vector key uses the same hive encoding as data entries")
    assert(m.deletes.keySet.subsetOf(m.entries.keySet),
      "vectors only for live partitions")
  }

  // Streaming foreachBatch upserts publish through the manifest too:
  // each micro-batch commits one generation, a second catch-up run
  // resumes from the checkpoint and keeps merging, and readers always
  // resolve one complete snapshot. This is the WriteMode.Upsert
  // streaming branch of Runner.runStreamingThenFull, with and without
  // partitionCols.
  test("streaming partitioned upsert commits one generation per micro-batch") {
    import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
    val sp = spark
    for (parts <- Seq(Seq("bucket"), Nil)) {
      val staged = ScratchDirs.create("mstore_stream_src")
      val out = ScratchDirs.create("mstore_stream_out")
      var mtime = 1700000000000L
      def land(rows: Seq[(Long, Long, String, Int)], name: String): Unit = {
        val tmp = ScratchDirs.create("mstore_slice")
        sp.createDataFrame(rows).toDF("k", "seq", "v", "bucket")
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = JFiles.list(Paths.get(tmp)).toArray.map(_.toString)
          .filter(p => p.endsWith(".parquet")).head
        val dst = Paths.get(staged, name)
        JFiles.move(Paths.get(part), dst, StandardCopyOption.REPLACE_EXISTING)
        mtime += 60000L
        JFiles.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      val ddl = "k bigint, seq bigint, v string, bucket int"
      def runOnce(): Unit = {
        val reg = new Registry(sp)
        reg.source("feed", () => sp.read.schema(ddl).parquet(staged))
        reg.register(TableDef("latest", Seq("feed"), { case Seq(f) => f },
          mode = Mode.Incremental, partitionCols = parts,
          writeMode = WriteMode.Upsert(Seq("k"), "seq")))
        Runner.runStreamingThenFull(sp, reg,
          Map("feed" -> (() => sp.readStream.schema(ddl)
            .option("maxFilesPerTrigger", "1").parquet(staged))),
          out)
      }
      land(Seq((1L, 1L, "a", 0), (2L, 1L, "b", 1)), "s1.parquet")
      land(Seq((1L, 5L, "A", 0)), "s2.parquet") // second micro-batch, bucket 0 only
      runOnce()
      val root = s"$out/latest"
      assert(snapshot(root) === Map(1L -> (5L, "A"), 2L -> (1L, "b")))
      val m1 = ManifestStore.readManifest(fs(root), root).get
      assert(m1.version === 2L,
        s"two micro-batches = two committed generations ($parts)")
      if (parts.nonEmpty)
        assert(m1.entries("bucket=1").startsWith("_gen/g00000001-"),
          "bucket 1 untouched by batch 2 — carried forward by reference")
      else
        assert(m1.entries.keySet === Set("") &&
          m1.entries("").startsWith("_gen/g00000002-"),
          "the one partition of an unpartitioned table is rewritten")
      // catch-up run 2: new file lands AFTER run 1 terminated; the merge
      // must resume from the checkpoint (only the new file processed)
      land(Seq((2L, 9L, "B2", 1), (3L, 1L, "c", 0)), "s3.parquet")
      runOnce()
      assert(snapshot(root) ===
        Map(1L -> (5L, "A"), 2L -> (9L, "B2"), 3L -> (1L, "c")))
      assert(ManifestStore.readManifest(fs(root), root).get.version === 3L,
        s"run 2 processed exactly the one new file = one more generation ($parts)")
    }
  }

  // End-to-end through the DAG runner: a partitioned Upsert table is
  // published via the manifest and its downstream consumer reads the
  // committed snapshot through Runner.read.
  test("Runner materializes partitioned upsert tables behind the manifest") {
    val sp = spark
    import sp.implicits._
    val out = ScratchDirs.create("mstore_runner")
    val r = new Registry(sp)
    r.source("feed", () =>
      Seq((1L, 2L, "new", 0), (1L, 1L, "old", 0), (2L, 1L, "b", 1))
        .toDF("k", "seq", "v", "bucket"))
    r.register(TableDef("latest", Seq("feed"), { case Seq(f) => f },
      mode = Mode.Full, partitionCols = Seq("bucket"),
      writeMode = WriteMode.Upsert(Seq("k"), "seq")))
    r.register(TableDef("summary", Seq("latest"),
      { case Seq(l) => l.groupBy("bucket").count() }, mode = Mode.Full))
    val paths = Runner.runBatch(r, out)
    // the upsert table itself resolves via the manifest, not a raw path
    val got = ManifestStore.read(sp, paths("latest"))
      .select("k", "v").collect().map(r2 => r2.getLong(0) -> r2.getString(1)).toMap
    assert(got === Map(1L -> "new", 2L -> "b"))
    // and the downstream consumer computed from the committed snapshot
    val counts = sp.read.parquet(paths("summary"))
      .collect().map(r2 => r2.getInt(0) -> r2.getLong(1)).toMap
    assert(counts === Map(0 -> 1L, 1 -> 1L))
  }
}

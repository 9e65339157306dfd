package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Multimodal, Relational}
import graft.core.ScratchDirs

class OpsScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("saltedJoin equals the plain join on a skewed key") {
    val sp = spark
    import sp.implicits._
    // 90% of left rows share one hot key
    val left = (1 to 1000)
      .map(i => (if (i <= 900) "hot" else s"k$i", i.toLong))
      .toDF("k", "v").repartition(8)
    val right = Seq(("hot", 1.0), ("k950", 2.0), ("miss", 3.0)).toDF("k", "w")
    val salted = Relational.saltedJoin(left, right, Seq("k"), col("v"), 16)
      .select("k", "v", "w").collect().map(_.toSeq).toSet
    val plain = left.join(right, Seq("k"))
      .select("k", "v", "w").collect().map(_.toSeq).toSet
    assert(salted === plain)
    assert(plain.size === 901)
  }

  // The point of salting is the SHUFFLE SHAPE, not the result: under a
  // hot key, the plain join's hash exchange lands every hot row in one
  // task (the straggler that kills a 100 TB join), while the salted
  // exchange spreads them across nSalts partitions. Assert the
  // max-partition row count directly on the two exchanges.
  test("saltedJoin bounds the max shuffle partition under a hot key") {
    val sp = spark
    import sp.implicits._
    val nSalts = 16
    val hot = 9000
    val left = (1 to 10000)
      .map(i => (if (i <= hot) "hot" else s"k$i", i.toLong))
      .toDF("k", "v").repartition(8)
    def maxPartitionRows(exchanged: org.apache.spark.sql.DataFrame): Int =
      exchanged.rdd.mapPartitions(it => Iterator(it.size)).collect().max
    // the exchange a plain equi-join would perform: hash on the key alone
    val unsalted = maxPartitionRows(left.repartition(32, col("k")))
    // the exchange saltedJoin performs: hash on (key, salt), using the
    // PRODUCT salt expression so this spec cannot drift from the code
    val salted = maxPartitionRows(
      left.withColumn("__salt", Relational.saltCol(col("v"), nSalts))
        .repartition(32, col("k"), col("__salt")))
    assert(unsalted >= hot, "plain exchange: all hot rows in one task")
    // several of the 16 salt buckets can hash-collide into one of the 32
    // partitions, so the guaranteed bound is a constant-factor spread,
    // not hot/nSalts exactly (observed ≈hot/4 here; deterministic —
    // xxhash64 is seedless)
    assert(salted <= hot / 2,
      s"salted exchange must spread the hot key (max=$salted)")
  }

  test("connectedComponents: 5000-node chain + disjoint pairs at scale shape") {
    val sp = spark
    import sp.implicits._
    // a 5000-node chain forces ~log2(5000) ≈ 13 pointer-jumped rounds —
    // far beyond near-dup diameters but well under maxIter; plus 500
    // disjoint pair components that must stay separate
    val chain = (1L until 5000L).map(i => (i - 1, i))
    val pairs = (0 until 500).map(i => (10000L + 2 * i, 10001L + 2 * i))
    val edges = (chain ++ pairs).toDF("a", "b").repartition(16)
    val comps = Relational.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(comps.length === 6000)
    val (chainNodes, pairNodes) = comps.partition(_._1 < 5000L)
    assert(chainNodes.forall(_._2 === 0L), "chain must fully close to 0")
    assert(pairNodes.forall { case (n, c) => c === (n - n % 2) },
      "each disjoint pair labels to its even member")
  }

  test("extractFeatures: per-partition decode, deterministic across partitionings") {
    val sp = spark
    import sp.implicits._
    val docs = graft.tables.Tables.load(sp, TestSpark.sf0001, "documents")
      .select($"doc_id", $"text")
    val a = Multimodal.extractFeatures(
      docs.repartition(2), "doc_id", "text", dim = 8)()
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    val b = Multimodal.extractFeatures(
      docs.repartition(7), "doc_id", "text", dim = 8)()
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(a === b)
    assert(a.size === 500)
    assert(a.values.forall(v => v.length === 8 &&
      v.forall(x => x >= -1.0f && x < 1.0f)))
  }

  test("extractFeatures runs decoder setup once per partition, not per row") {
    val sp = spark
    import sp.implicits._
    val setups = sp.sparkContext.longAccumulator("setups")
    val rowsDecoded = sp.sparkContext.longAccumulator("rows")
    val df = (1L to 100L).map(i => (i, s"payload$i")).toDF("id", "bin")
      .repartition(4)
    Multimodal.extractFeatures(df, "id", "bin", dim = 4)(() => {
      setups.add(1)
      bytes => { rowsDecoded.add(1); Multimodal.hashDecoder(4)(bytes) }
    }).count()
    assert(rowsDecoded.value === 100)
    assert(setups.value <= 4)
  }

  test("bounded posting build stays correct under a hot token") {
    // the q127 scale scenario the unbounded collect_list dies on: one
    // token present in (almost) every document. The graft_topk path must
    // return the 16 smallest doc_ids in ascending order with the FULL
    // document frequency, holding ≤ k pairs per map task throughout —
    // the ids arrive in randomized order across 8 partitions, so a
    // merge-order-sensitive buffer would be caught here too.
    val sp = spark
    import sp.implicits._
    val n = 50000
    val rnd = new scala.util.Random(7)
    val hotDocs = rnd.shuffle((1 to n).toList)
      .map(i => (i.toLong, "hot"))
    val cold = Seq((5L, "cold"), (9L, "cold"), (2L, "rare"))
    val pairs = (hotDocs ++ cold).toDF("doc_id", "token").repartition(8)
    val got = pairs.distinct().groupBy("token")
      .agg(count(lit(1)).as("doc_freq"),
        expr("graft_topk(cast(-doc_id as double), doc_id, 16)").as("top"))
      .select(col("token"), col("doc_freq"),
        expr("transform(top, x -> x.id)").as("head"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getSeq[Long](2).toList))).toMap
    assert(got("hot") === ((n.toLong, (1L to 16L).toList)))
    assert(got("cold") === ((2L, List(5L, 9L))))
    assert(got("rare") === ((1L, List(2L))))
  }

  // The q159/q164 scale claim: however large and however skewed the
  // token stream, the CMS grid the shuffle carries is at most d×w rows
  // — and a 50k-occurrence hot token still estimates correctly (est is
  // a deterministic upper bound).
  test("CMS grid stays d×w-bounded and upper-bounds a 50k hot token") {
    val sp = spark
    import sp.implicits._
    val (dRows, w) = (4, 256)
    val hot = (1 to 50000).map(_ => "hot")
    val rare = (1 to 40).map(i => s"rare$i")
    val toks = (hot ++ rare).toDF("tok").repartition(8)
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val bucket = s"cast(conv(substring(md5(concat(tok, '#', " +
      s"cast(j as string))), 1, 13), 16, 10) as bigint) % $w"
    val grid = counts
      .select(col("tok"), col("cnt"),
        explode(expr(s"sequence(0, ${dRows - 1})")).as("j"))
      .withColumn("b", expr(bucket))
      .groupBy("j", "b").agg(sum(col("cnt")).as("cell"))
      .cache()
    assert(grid.count() <= dRows.toLong * w,
      "the sketch frame must be structurally bounded, not data-sized")
    val est = counts.filter($"tok" === "hot")
      .select(col("tok"), col("cnt"), explode(expr("sequence(0, 3)")).as("j"))
      .withColumn("b", expr(bucket))
      .join(grid, Seq("j", "b"))
      .groupBy("tok").agg(min(col("cell")).as("est"))
      .head.getLong(1)
    assert(est >= 50000L, "CMS estimate is a one-sided bound")
    grid.unpersist()
  }

  // The q175 scale claim: under a single hot group key, the salted
  // partial frame is |keys|×nSalts rows — the second-phase shuffle
  // never sees the raw row volume, so no reducer inherits the hot key.
  test("salted aggregation partials are keys×salts-bounded under a hot key") {
    val sp = spark
    import sp.implicits._
    val rows = (1L to 100000L).map(i => (i, "hot", 1.0)) ++
      Seq((100001L, "cold", 2.0))
    val df = rows.toDF("id", "k", "v").repartition(8)
    val partials = df.withColumn("salt", pmod(col("id"), lit(16)))
      .groupBy("k", "salt")
      .agg(count(lit(1)).as("pn"), sum($"v".cast("decimal(28,6)")).as("ps"))
    assert(partials.count() <= 2L * 16,
      "phase-1 output must be keys×salts, independent of row volume")
    val merged = partials.groupBy("k")
      .agg(sum($"pn").as("n"), sum($"ps").cast("string").cast("double").as("t"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(merged("hot") === ((100000L, 100000.0)))
    assert(merged("cold") === ((1L, 2.0)))
  }

  // MB-scale payloads end-to-end: real multi-megabyte BMPs written to a
  // parquet binary column, read back, and header-parsed — the payload
  // size class the q203 corpus queries don't reach (their oracle needs
  // per-pixel SQL series). Checks the parquet round trip preserves the
  // bytes exactly (decoded dims + pixel sum match the generator) and
  // that decode streams row-by-row (no partition-wide buffering).
  test("decodeImageMeta: multi-MB BMP payloads survive the parquet round trip") {
    val sp = spark
    import sp.implicits._
    import graft.ops.ImageCodec
    // 6 images, 1.0–4.3 MB each (w up to 1200, h up to 1200)
    val dims = Seq((1L, 600, 600), (2L, 1200, 700), (3L, 777, 500),
      (4L, 1024, 1024), (5L, 999, 333), (6L, 1200, 1200))
    val rows = dims.map { case (id, w, h) =>
      (id, ImageCodec.encodeBmp(w, h, ImageCodec.content(id, w, h)))
    }
    val dir = ScratchDirs.create("mm_mb")
    rows.toDF("id", "payload").repartition(3).write.mode("overwrite")
      .parquet(dir)
    val back = sp.read.parquet(dir)
    assert(back.agg(max(length(col("payload")))).head.getInt(0) > 4000000,
      "largest payload must actually be MB-scale")
    val meta = Multimodal.decodeImageMeta(back, "id", "payload")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(2), r.getString(3), r.getInt(4), r.getInt(5), r.getLong(6)))
      .toMap
    dims.foreach { case (id, w, h) =>
      val expectedSum = ImageCodec.content(id, w, h).map(_ & 0xFF).map(_.toLong).sum
      assert(meta(id) === ((true, "bmp", w, h, expectedSum)),
        s"image $id mis-decoded after the parquet round trip")
    }
  }

  test("decoders classify null payloads as corrupt instead of crashing") {
    val sp = spark
    import sp.implicits._
    import graft.ops.ImageCodec
    val df = Seq(
      (1L, ImageCodec.encodeBmp(4, 4, ImageCodec.content(1L, 4, 4))),
      (2L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    val img = Multimodal.decodeImageMeta(df, "id", "payload")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(img === Map(1L -> true, 2L -> false))
    val media = Multimodal.decodeMediaMeta(df, "id", "payload")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(media === Map(1L -> true, 2L -> false))
    val audio = Multimodal.decodeAudioMeta(df, "id", "payload")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(audio === Map(1L -> false, 2L -> false))
    // batchedDecode treats the null as a zero-byte payload
    val out = Multimodal.batchedDecode(df, "id", "payload", 1000L)(
      b => b.map(x => Array(x.length.toFloat))).collect()
    assert(out.map(r => r.getLong(0) -> r.getInt(1)).toMap ===
      Map(1L -> ImageCodec.bmpFileSize(4, 4), 2L -> 0))
  }

  // The batchedDecode memory contract: peak buffered payload bytes per
  // batch ≤ max(budget, largest single payload) — audited from the
  // emitted (n_bytes, batch_seq) alone, which is why batch_seq exists.
  test("batchedDecode: no batch exceeds the byte budget unless it is a single row") {
    val sp = spark
    import sp.implicits._
    val budget = 1000L
    // mixed sizes incl. one over-budget payload (1500 B) that must ride alone
    val sizes = Seq(400, 400, 300, 1500, 200, 900, 100, 100, 100, 650)
    val rows = sizes.zipWithIndex.map { case (n, i) =>
      (i.toLong, Array.fill[Byte](n)((i % 127).toByte))
    }
    val df = rows.toDF("id", "payload").repartition(2)
    val out = Multimodal.batchedDecode(df, "id", "payload", budget) { batch =>
      batch.map(b => Array(b.length.toFloat))
    }.collect()
    assert(out.length === sizes.length, "every row must come back")
    // batch_seq restarts per partition, so audit the budget invariant on
    // a single-partition run where batch_seq uniquely identifies batches
    val one = Multimodal.batchedDecode(df.repartition(1), "id", "payload",
      budget) { batch => batch.map(b => Array(b.length.toFloat)) }.collect()
    val batches = one.groupBy(_.getInt(2)).values.toSeq
    batches.foreach { g =>
      val total = g.map(_.getInt(1).toLong).sum
      assert(total <= budget || g.length === 1,
        s"batch of ${g.length} rows totals $total B > $budget B budget")
    }
    assert(batches.exists(g => g.length === 1 && g.head.getInt(1) === 1500),
      "the over-budget payload must form its own batch")
    // features come back aligned with their rows
    one.foreach(r => assert(r.getSeq[Float](3).head === r.getInt(1).toFloat))
  }

  // THE content-defined-chunking property — why CDC beats fixed-size
  // chunking for dedup: an edit near the front of a document reshapes
  // only the chunks up to the first boundary after the edit; every
  // later chunk re-aligns byte-identically. Fixed-size chunking would
  // shift all downstream chunks by the insertion length and share
  // nothing.
  test("cdcChunks: an inserted word changes only the chunk containing it") {
    val sp = spark
    import sp.implicits._
    val text = (1 to 400).map(i => s"w${i % 97}tok$i").mkString(" ")
    val edited = "INSERTED " + text
    val df = Seq((1L, text), (2L, edited)).toDF("doc_id", "text")
    val chunks = graft.ops.Chunking.cdcChunks(df, col("doc_id"), col("text"))
      .select(col("doc"), col("chunk_id"), col("chunk")).collect()
    val orig = chunks.filter(_.getLong(0) == 1L)
      .map(r => r.getLong(1) -> r.getString(2)).sortBy(_._1)
    val ed = chunks.filter(_.getLong(0) == 2L)
      .map(r => r.getLong(1) -> r.getString(2)).sortBy(_._1)
    assert(orig.length > 10, "the gear divisor must actually cut chunks")
    // all chunks after the first boundary are byte-identical: the edited
    // doc's chunk k+offset equals the original's chunk k for every k ≥ 1
    val origTail = orig.drop(1).map(_._2)
    val edTail = ed.drop(ed.length - origTail.length).map(_._2)
    assert(edTail.toSeq === origTail.toSeq,
      "downstream chunks must re-align after a front insertion")
    // and the damage is bounded: at most the head chunk differs
    assert(ed.length - orig.length <= 1,
      "a single-word insertion may split at most one extra chunk")
  }

  test("kmeansCentroids seeds the k smallest ids even on sparse id spaces") {
    val sp = spark
    import sp.implicits._
    // ids 100, 200, 300, 400 — the old `id < k` seed would select NONE
    val vecs = Seq(
      (100L, Array(1.0, 0.0)), (200L, Array(0.0, 1.0)),
      (300L, Array(-1.0, 0.1)), (400L, Array(0.9, 0.9)))
      .toDF("vec_id", "v")
    val cents = graft.ops.Vectors
      .kmeansCentroids(vecs, "vec_id", "v", k = 2, iters = 1, dim = 2)
      .collect()
    assert(cents.length === 2, "seeded from the 2 smallest ids")
    assert(cents.map(_.getLong(0)).toSet === Set(100L, 200L))
  }
}

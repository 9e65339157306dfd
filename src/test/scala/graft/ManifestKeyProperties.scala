package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.core.ScratchDirs
import graft.graph.ManifestStore

/** partKey/decodeKey are the manifest's bridge to Spark's hive-dir
  * encoding — decodeKey MUST invert partKey for every value the store
  * supports, which is what makes partKey injective: two distinct
  * partition tuples can never share a manifest entry. Exercised over
  * adversarial strings (path separators, '=', '%', spaces, unicode),
  * multi-column tuples, and the null partition. The manifest codec is
  * checked the same way: a published manifest reads back equal. */
object ManifestKeyProperties extends Properties("graft.manifestkey") {
  private lazy val spark = TestSpark.spark

  private val valueGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.suchThat(_.nonEmpty),
    Gen.nonEmptyListOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('/', '=', '%', ' ', ':', '#', '\\',
        '+', '.', '-', '日', 'é'))).map(_.mkString))

  private val tupleGen: Gen[List[(String, Option[String])]] = for {
    n <- Gen.choose(1, 3)
    cols <- Gen.listOfN(n, Gen.identifier.suchThat(_.nonEmpty))
      .suchThat(cs => cs.distinct.size == cs.size)
    vals <- Gen.listOfN(n, Gen.option(valueGen))
  } yield cols.zip(vals)

  property("decodeKey inverts partKey for escaped values and nulls") =
    Prop.forAll(tupleGen) { tuple =>
      val cols = tuple.map(_._1)
      val vals = tuple.map(_._2.orNull)
      val key = ManifestStore.encodeKeyForTest(cols, vals)
      val decoded = ManifestStore.decodeKey(key)
      decoded == tuple.map { case (c, v) => c -> v.orNull }.toMap
    }

  private type Files = Map[String, Map[String, (String, String)]]

  /** A manifest publish keeps as is: per-entry metadata only for live
    * entries, and delete key columns exactly when vectors exist. */
  private val manifestGen: Gen[ManifestStore.Manifest] = for {
    cols <- Gen.oneOf(List("bucket"), List("day", "region"))
    tuples <- Gen.listOf(Gen.listOfN(cols.size, Gen.option(valueGen)))
    keys = tuples.map(vs => ManifestStore.encodeKeyForTest(cols, vs.map(_.orNull))).distinct
    gen <- Gen.identifier.map(g => s"_gen/g00000001-${g.take(8)}")
    entries = keys.map(k => k -> s"$gen/$k").toMap
    bounds = Gen.mapOf(Gen.zip(Gen.identifier, Gen.zip(valueGen, valueGen)))
    statKeys <- Gen.someOf(keys)
    fileStats <- Gen.sequence[List[(String, Files)], (String, Files)](
      statKeys.toList.map(k =>
        Gen.mapOf(Gen.zip(valueGen.map(f => s"$gen/$k/$f.parquet"), bounds))
          .map(k -> _)))
    deleted <- Gen.someOf(keys)
    deletes = deleted.map(k => k -> s"_gen/g00000002-dv/$k").toMap
    keyCols <- Gen.nonEmptyListOf(Gen.identifier).map(_.distinct)
    props <- Gen.mapOf(Gen.zip(valueGen, valueGen))
    schema <- Gen.option(Gen.const(StructType(Seq(
      StructField("k", LongType), StructField("bucket", StringType))).json))
  } yield ManifestStore.Manifest(1L, entries, fileStats.toMap, schema,
    deletes, if (deletes.isEmpty) Nil else keyCols, props)

  property("publish then readManifestAt returns an equal manifest") =
    Prop.forAll(manifestGen) { m =>
      val root = ScratchDirs.create("mkey_codec_")
      ManifestStore.publish(spark, root, m, None)
      val fs = new HPath(root).getFileSystem(spark.sessionState.newHadoopConf())
      ManifestStore.readManifestAt(fs, root, 1L) == Some(m)
    }
}

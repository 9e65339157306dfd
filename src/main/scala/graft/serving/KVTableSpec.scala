package graft.serving

import org.apache.spark.sql.types._

/** The key schema of a served KV table (the reference's
  * `ServingClient.create_table`, zetadex-serving.py:40–175: a hash key
  * and an optional range key). Key and attribute types come from the
  * DataFrame being served, never declared twice: [[validate]] rejects a
  * frame the store cannot hold BEFORE any Spark job runs.
  */
object KVTableSpec {

  /** The column types a served item can hold: numbers, booleans,
    * strings and timestamps (served as epoch microseconds). */
  def servable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | FloatType | DoubleType | BooleanType |
        StringType | TimestampType => true
    case _ => false
  }

  /** Key attributes must be strings or numbers. A raw timestamp key is
    * rejected: the reference serves times as unix-second numbers, which
    * [[ServingJobs.servingProjection]] converts to first. */
  private def keyEligible(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | FloatType | DoubleType | StringType => true
    case _ => false
  }
}

final case class KVTableSpec(
    table: String,
    hashKey: String,
    rangeKey: Option[String] = None) {
  import KVTableSpec._

  /** Fail-fast validation against the frame actually being served: every
    * key attribute exists and carries a key-eligible type, and every
    * column has a type the store can serve. */
  def validate(schema: StructType): Unit = {
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    (Seq(hashKey) ++ rangeKey).foreach { k =>
      val dt = byName.getOrElse(k,
        throw new IllegalArgumentException(
          s"KV table $table: key attribute '$k' is not a column (have: ${schema.fieldNames.mkString(", ")})"))
      if (!keyEligible(dt))
        throw new IllegalArgumentException(
          s"KV table $table: key attribute '$k' has non-key-eligible type $dt " +
            "(keys must be string/number; convert timestamps via servingProjection first)")
    }
    schema.fields.find(f => !servable(f.dataType)).foreach { f =>
      throw new IllegalArgumentException(
        s"KV table $table: column '${f.name}' has type ${f.dataType}, which " +
          "the store cannot serve (servable: int, bigint, float, double, " +
          "boolean, string, timestamp)")
    }
  }
}

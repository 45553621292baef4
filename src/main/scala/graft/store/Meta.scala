package graft.store

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}

/** The codec of a store's one-row `meta/` sidecar. A store declares its
  * fields once, in on-disk order; the codec appends `format_version` as
  * the last column and checks it on every [[read]], so an op never runs
  * against a layout it does not know. I/O is driver-side
  * ([[graft.util.Sidecar]]): the row is read at the top of every op and
  * committed at the end of every mutation, and neither needs a Spark
  * job. `store` names the store in errors ("dedup index", ...). */
final case class Meta(store: String, format: Int, fields: (String, DataType)*) {

  val schema: StructType = StructType(
    (fields :+ ("format_version" -> IntegerType)).map { case (n, t) =>
      StructField(n, t)
    })

  private def path(dir: String) = s"$dir/meta"

  /** Commit a whole row, `values` in declared order. Each value is
    * passed as `Any`, so mixed numeric literals never unify to a wider
    * type (a Long checksum widened through Double loses bits). */
  def write(spark: SparkSession, dir: String, values: Any*): Unit = {
    require(values.length == fields.length,
      s"$store meta takes ${fields.length} values, got ${values.length}")
    graft.util.Sidecar.write(spark, path(dir), schema,
      Seq(values :+ format))
  }

  /** Commit `prev` with the named fields replaced. */
  def update(spark: SparkSession, dir: String, prev: Row)(
      changes: (String, Any)*): Unit = {
    val byName = changes.toMap
    val unknown = byName.keySet -- fields.map(_._1)
    require(unknown.isEmpty, s"$store meta has no field ${unknown.mkString(", ")}")
    write(spark, dir, fields.map { case (n, _) =>
      byName.getOrElse(n, prev.getAs[Any](n))
    }: _*)
  }

  /** The meta row, after checking its `format_version`. A wrong or
    * missing version fails with the one recovery that always works. */
  def read(spark: SparkSession, dir: String): Row = {
    val row = graft.util.Sidecar.readHead(spark, path(dir))
    val i = row.schema.fieldNames.indexOf("format_version")
    val found = if (i < 0 || row.isNullAt(i)) "none" else row.getInt(i).toString
    require(found == format.toString,
      s"$store at $dir has format $found, expected $format — rebuild " +
        "via ensure()")
    row
  }
}

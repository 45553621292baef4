package graft.store

import graft.SparkSpec
import graft.util.{Fs, IngestMarker, Sidecar, StoreLease}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** The op frame and the meta codec on small fixture directories: the
  * order of the lease, marker and format checks, what a failure inside
  * and outside the commit window leaves behind, ensure()'s validity
  * half, and the on-disk meta shape of each store. */
class OpSpec extends SparkSpec {

  private val base = graft.util.Fixtures.dir + "/spec_op"

  private val codec = Meta("test store", 2, "n" -> LongType, "tag" -> StringType)

  /** A fresh store directory holding a current-format meta row. */
  private def seeded(name: String): String = {
    val dir = s"$base/$name"
    StoreLease.break(spark, dir)
    Fs.rmTree(spark, dir)
    codec.write(spark, dir, 7L, "seed")
    dir
  }

  private def columns(path: String): Seq[(String, DataType)] =
    spark.read.parquet(path).schema.fields.toSeq.map(f => (f.name, f.dataType))

  test("mutate: a held lease fails first (IllegalStateException), then " +
      "a marker (IllegalArgumentException); the body never runs") {
    val dir = seeded("order")
    var ran = false
    IngestMarker.write(spark, dir, "spec-fabricated crash")
    StoreLease.acquire(spark, dir, "spec-writer")
    try {
      intercept[IllegalStateException] {
        Op.mutate(spark, dir, codec, "append") { _ => ran = true }
      }
    } finally StoreLease.release(spark, dir)
    val e = intercept[IllegalArgumentException] {
      Op.mutate(spark, dir, codec, "append") { _ => ran = true }
    }
    assert(e.getMessage.contains("append refuses to run"), e.getMessage)
    assert(!ran, "a body ran past a failed check")
    assert(StoreLease.heldBy(spark, dir).isEmpty, "the lease leaked")
    intercept[IllegalArgumentException] { Op.read(spark, dir, codec, "search") }
  }

  test("a body that throws inside window after its first write leaves " +
      "the marker and releases the lease") {
    val dir = seeded("in_window")
    intercept[RuntimeException] {
      Op.mutate(spark, dir, codec, "append") { o =>
        o.window("append in flight") {
          Sidecar.write(spark, s"$dir/data", codec.schema, Seq(Seq(1L, "x", 2)))
          throw new RuntimeException("crash between data and meta")
        }
      }
    }
    assert(IngestMarker.present(spark, dir), "a crash inside the window lost the marker")
    assert(StoreLease.heldBy(spark, dir).isEmpty, "the lease leaked")
    assert(codec.read(spark, dir).getAs[Long]("n") == 7L)
    val e = intercept[IllegalArgumentException] {
      Op.mutate(spark, dir, codec, "delete") { _ => () }
    }
    assert(e.getMessage.contains("append in flight") &&
      e.getMessage.contains("delete refuses to run"), e.getMessage)
    assert(Op.valid(spark, dir, codec)().isEmpty)
  }

  test("a body that throws before window leaves no marker") {
    val dir = seeded("before_window")
    intercept[IllegalArgumentException] {
      Op.mutate(spark, dir, codec, "delete") { o =>
        require(o.meta.getAs[Long]("n") < 0, "audit failed")
        o.window("delete in flight") { o.commit("n" -> 0L) }
      }
    }
    assert(!IngestMarker.present(spark, dir))
    assert(StoreLease.heldBy(spark, dir).isEmpty)
    // and a clean window commits the frame's row with the changes
    Op.mutate(spark, dir, codec, "delete") { o =>
      o.window("delete in flight") { o.commit("n" -> 5L) }
    }
    assert(!IngestMarker.present(spark, dir))
    val row = codec.read(spark, dir)
    assert(row.getAs[Long]("n") == 5L && row.getAs[String]("tag") == "seed")
  }

  test("valid is None for a marker, a missing meta, a wrong " +
      "format_version and a meta with no format_version column") {
    val dir = seeded("valid")
    assert(Op.valid(spark, dir, codec)().map(_.getAs[Long]("n")).contains(7L))
    assert(Op.valid(spark, dir, codec)(_.getAs[Long]("n") == 8L).isEmpty,
      "the shape predicate was ignored")
    IngestMarker.write(spark, dir, "spec-fabricated crash")
    assert(Op.valid(spark, dir, codec)().isEmpty, "marker")
    IngestMarker.clear(spark, dir)
    Meta("test store", 1, "n" -> LongType, "tag" -> StringType)
      .write(spark, dir, 7L, "old")
    assert(Op.valid(spark, dir, codec)().isEmpty, "wrong format_version")
    val e = intercept[IllegalArgumentException] { codec.read(spark, dir) }
    assert(e.getMessage.contains("has format 1, expected 2") &&
      e.getMessage.contains("rebuild via ensure()"), e.getMessage)
    Sidecar.write(spark, s"$dir/meta",
      StructType(Seq(StructField("n", LongType), StructField("tag", StringType))),
      Seq(Seq(7L, "unversioned")))
    assert(Op.valid(spark, dir, codec)().isEmpty, "no format_version column")
    assert(intercept[IllegalArgumentException] { codec.read(spark, dir) }
      .getMessage.contains("has format none"))
    Fs.rmTree(spark, s"$dir/meta")
    assert(Op.valid(spark, dir, codec)().isEmpty, "missing meta")
  }

  test("update keeps the other fields and refuses an unknown one") {
    val dir = seeded("update")
    val prev = codec.read(spark, dir)
    intercept[IllegalArgumentException] {
      codec.update(spark, dir, prev)("no_such_field" -> 1L)
    }
    codec.update(spark, dir, prev)("tag" -> "next")
    assert(columns(s"$dir/meta") ==
      Seq("n" -> LongType, "tag" -> StringType, "format_version" -> IntegerType))
    assert(spark.read.parquet(s"$dir/meta").head().toSeq == Seq(7L, "next", 2))
  }

  test("each store's meta reads back with the columns, types and order " +
      "it has always had on disk") {
    import spark.implicits._
    val root = s"$base/stores"
    Fs.rmTree(spark, root)
    val docs = (0L until 12L).map(i => (i, s"w${i % 5} w${i % 3} w$i tail"))
      .toDF("doc_id", "text")
    def vectors(n: Int): DataFrame = (0 until n).map { i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 7 + j * 3) % 11).toFloat + j),
        i % 2)
    }.toDF("vec_id", "embedding", "label")
    graft.llm.DedupIndex.build(docs, s"$root/dedup", threshold = 0.9)
    graft.llm.TextIndex.build(docs, s"$root/text")
    graft.llm.VectorIndex.build(vectors(40).drop("label"), s"$root/vec",
      nCells = 2, m = 2, kCodes = 4)
    graft.llm.VectorIndex.build(vectors(40), s"$root/vecf",
      nCells = 2, m = 2, kCodes = 4, filterCol = Some("label"))
    graft.llm.GraphAnn.ensure(vectors(40).drop("label"), s"$root/graph",
      m = 4, descentRounds = 1, initCellSize = 16): Unit
    val L = LongType
    val I = IntegerType
    // one vector-index shape for both layouts: filter_col "" = cell-only
    val vec = Seq("n_vectors" -> L, "checksum" -> L, "dim" -> I,
      "n_cells" -> I, "m" -> I, "k_codes" -> I, "filter_col" -> StringType,
      "format_version" -> I)
    val want = Seq(
      "dedup" -> Seq("n_docs" -> L, "checksum" -> L, "max_id" -> L,
        "threshold" -> DoubleType, "n_buckets" -> I, "n_id_buckets" -> I,
        "id_col" -> StringType, "format_version" -> I),
      "text" -> Seq("n_docs" -> L, "checksum" -> L, "sum_dl" -> L,
        "n_buckets" -> I, "n_doc_buckets" -> I, "format_version" -> I),
      "vec" -> vec,
      "vecf" -> vec,
      "graph" -> Seq("n_vectors" -> L, "checksum" -> L, "m" -> I,
        "init_cell_size" -> I, "descent_rounds" -> I, "format_version" -> I))
    want.foreach { case (store, cols) =>
      assert(columns(s"$root/$store/meta") == cols, store)
    }
    assert(spark.read.parquet(s"$root/vec/meta").head()
      .getAs[String]("filter_col") == "")
    assert(spark.read.parquet(s"$root/vecf/meta").head()
      .getAs[String]("filter_col") == "label")
    val formats = want.map { case (store, _) =>
      store -> spark.read.parquet(s"$root/$store/meta").head()
        .getAs[Int]("format_version")
    }.toMap
    assert(formats == Map("dedup" -> 4, "text" -> 2, "vec" -> 2, "vecf" -> 2,
      "graph" -> 4))
  }
}

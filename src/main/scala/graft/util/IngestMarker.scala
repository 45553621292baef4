package graft.util

import org.apache.spark.sql.SparkSession

/** Two-phase-ingest guard for the persisted index stores, one of the
  * primitives [[graft.store.Op]] composes (its `window` is the one
  * place that writes and clears the marker, and the one statement of
  * the protocol). An append writes data files into live partition
  * directories FIRST and commits the meta fingerprint LAST, so a crash
  * between the two leaves the store holding half a batch while meta
  * still describes the old corpus. Without a flag, the failure is
  * SILENT and self-amplifying: the incremental XOR fingerprint is
  * computed over the CORPUS, so a redelivered batch re-appends on top
  * of its own half-ingested rows, meta lands on the correct-looking
  * union value, and ensure() can never see the duplicate rows — a
  * dedup probe then self-matches the first delivery (J = 1) and
  * silently drops genuine survivors.
  *
  * The marker makes the window LOUD: a mutation writes it before the
  * first data file and clears it after the meta commit; every other
  * store operation refuses to run while it is present; ensure()
  * treats it as "store invalid" and rebuilds from the corpus (the
  * one safe recovery — a rebuild re-derives every partition).
  */
object IngestMarker {

  private def path(dir: String) = s"$dir/ingest_inprogress"

  /** Write the marker (one-row parquet carrying a diagnostic string —
    * which batch was in flight) BEFORE any data append lands.
    * Driver-side ([[Sidecar]]): a one-string flag file needs no Spark
    * job, and markers bracket every store mutation. */
  def write(spark: SparkSession, dir: String, info: String): Unit =
    Sidecar.write(spark, path(dir),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("info",
          org.apache.spark.sql.types.StringType))),
      Seq(Seq(info)))

  /** Clear after the meta commit — the append's commit point. */
  def clear(spark: SparkSession, dir: String): Unit =
    Fs.rmTree(spark, path(dir))

  def present(spark: SparkSession, dir: String): Boolean =
    Fs.exists(spark, path(dir))

  /** Fail-loud gate every non-rebuilding store operation runs first.
    * The refusal names the op that was in flight (the marker's `info`),
    * since that op's input is what to redeliver after the rebuild. */
  def requireAbsent(spark: SparkSession, dir: String, op: String): Unit =
    if (present(spark, dir)) {
      val info = try Sidecar.readHead(spark, path(dir)).getAs[String]("info")
        catch { case scala.util.control.NonFatal(_) => "unreadable marker" }
      throw new IllegalArgumentException(
        s"store at $dir has an in-progress/crashed op marker ($info): " +
          "that op died inside its write window, so the store may " +
          s"hold a partial write — $op refuses " +
          "to run on it. Recover by calling ensure() over the intended " +
          "corpus (it detects the marker and rebuilds) or restoring the " +
          "directory.")
    }
}

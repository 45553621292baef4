package graft.store

import graft.util.{Fs, IngestMarker, StoreLease}
import org.apache.spark.sql.{Row, SparkSession}

/** THE OP FRAME — the one statement of the protocol every persisted
  * store ([[graft.llm.DedupIndex]], [[graft.llm.TextIndex]],
  * [[graft.llm.VectorIndex]], [[graft.llm.GraphAnn]]) runs its ops
  * under. It composes three primitives: the single-writer
  * [[graft.util.StoreLease]], the crashed-op [[graft.util.IngestMarker]]
  * and the store's [[Meta]] codec.
  *
  *   - [[build]]: lease, wipe the directory, run the body (which ends
  *     with the full meta write).
  *   - [[mutate]]: lease FIRST (a live rival fails with
  *     `IllegalStateException`), then the marker check (a crashed op
  *     fails with `IllegalArgumentException`), then the meta read and
  *     format check. Only then does the body run, so a store's own
  *     layout check precedes any recovery sweep it does.
  *   - [[read]]: the marker check and the format-checked meta read, no
  *     lease — searches and probes stay lock-free.
  *   - [[valid]]: ensure()'s "is the meta usable?" half. A marker, an
  *     unreadable meta (NonFatal only — an OOM propagates) or a wrong
  *     format means "rebuild". The corpus-side fingerprint stays with
  *     the caller and RETHROWS: a transient read error must never
  *     trigger the rebuild's delete of a healthy store.
  *
  * Commit window: data writes land in live directories first and the
  * meta commits last, so a crash in between leaves data the meta does
  * not describe — and the incremental XOR fingerprints, computed over
  * the corpus, cannot see it. [[window]] puts the marker down before the
  * first write and clears it after the body, which ends with the meta
  * commit. The clear is NOT in a `finally`: a body that throws leaves
  * the marker, every later op fails loud, and ensure() rebuilds. A
  * derived sidecar overwrite (delete, then write) that runs outside
  * build also sits in a window, since its readers need the table. The
  * lease is always released (it only serializes writers).
  *
  * Frames do not nest: the lease is not re-entrant, so helpers that run
  * inside a frame take its meta row instead of opening their own. */
object Op {

  /** What a [[mutate]] body runs with: the store, its format-checked
    * meta row, and the commit window. */
  final class Frame private[Op] (val spark: SparkSession, val dir: String,
      codec: Meta, val meta: Row) {

    def window[T](info: String)(body: => T): T = Op.window(spark, dir, info)(body)

    /** The meta commit: the frame's row with `changes` applied. */
    def commit(changes: (String, Any)*): Unit =
      codec.update(spark, dir, meta)(changes: _*)
  }

  def build[T](spark: SparkSession, dir: String, op: String)(body: => T): T =
    StoreLease.withLease(spark, dir, op) {
      Fs.rmTree(spark, dir)
      body
    }

  def mutate[T](spark: SparkSession, dir: String, codec: Meta, op: String)(
      body: Frame => T): T =
    StoreLease.withLease(spark, dir, op) {
      IngestMarker.requireAbsent(spark, dir, op)
      body(new Frame(spark, dir, codec, codec.read(spark, dir)))
    }

  def read(spark: SparkSession, dir: String, codec: Meta, op: String): Row = {
    IngestMarker.requireAbsent(spark, dir, op)
    codec.read(spark, dir)
  }

  /** The meta row when it is usable and passes `shape` (the caller's
    * layout contract — bucket counts, quantizer shape), else None. */
  def valid(spark: SparkSession, dir: String, codec: Meta)(
      shape: Row => Boolean = _ => true): Option[Row] =
    if (IngestMarker.present(spark, dir)) None
    else try Some(codec.read(spark, dir)).filter(shape)
    catch { case scala.util.control.NonFatal(_) => None }

  /** Marker down, `body`, marker cleared — see the commit window above.
    * `info` is diagnostic only (which op was in flight). */
  def window[T](spark: SparkSession, dir: String, info: String)(body: => T): T = {
    IngestMarker.write(spark, dir, info)
    val out = body
    IngestMarker.clear(spark, dir)
    out
  }
}

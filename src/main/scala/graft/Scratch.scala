package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Per-call scratch space and the one recursive delete.
  *
  * Entries that round-trip data through files (sinks, checkpoints, index
  * stores, staged feeds) take ONE temp root from [[withScratch]] and use
  * subdirectories of it. The root is deleted when the body returns AND
  * when it throws: the registry runs in long bench/verify loops, and a
  * lifecycle that only cleaned up on success leaked one scratch tree per
  * failed run. Results that must outlive the scratch are materialized
  * distributed (executor blocks, lineage truncated — see
  * [[graft.operators.Materialize]]) before the body returns, so freeing
  * the files needs no collect.
  */
object Scratch {

  /** Run `body` with a fresh temp directory and delete it afterwards,
    * even on failure. The delete is best-effort (see [[deleteTree]]), so
    * it never masks the body's own exception or fails a result that was
    * already computed.
    */
  def withScratch[T](prefix: String)(body: Path => T): T = {
    val root = Files.createTempDirectory(prefix)
    try body(root)
    finally deleteTree(root, bestEffort = true)
  }

  /** Run `stream` as one AvailableNow query to termination, handing each
    * micro-batch to `f`, and return the terminated query (its
    * `recentProgress` stays readable — the stream-state gate reads it).
    */
  def drain(stream: DataFrame, checkpoint: String)
      (f: (DataFrame, Long) => Unit): StreamingQuery = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(f)
      .start()
    q.awaitTermination()
    q
  }

  /** Recursive delete, deepest first; a no-op when `root` is absent.
    *
    * Loud by default: an I/O failure propagates (publish, vacuum and
    * CLI sweeps must not report success over residue). With
    * `bestEffort`, the sweep is retried and the last failure swallowed:
    * a just-stopped stream's state-store maintenance thread can recreate
    * files between the walk snapshot and the deletes
    * (DirectoryNotEmptyException), and scratch under the temp dir is not
    * worth failing the call it cleans up after.
    */
  def deleteTree(root: Path, bestEffort: Boolean = false): Unit = {
    var attempts = if (bestEffort) 3 else 1
    while (attempts > 0 && Files.exists(root)) {
      attempts -= 1
      try {
        val s = Files.walk(root)
        try s.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally s.close()
      } catch {
        case _: java.io.IOException | _: java.io.UncheckedIOException
            if bestEffort =>
          if (attempts > 0) Thread.sleep(50L)
      }
    }
  }
}

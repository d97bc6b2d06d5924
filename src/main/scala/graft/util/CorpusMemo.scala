package graft.util

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap, CopyOnWriteArrayList}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A per-(session, corpus) memo: the once-per-corpus investments (dedup
  * pair/signature/cluster tables, graph adjacency, k-means/PQ/BPE models,
  * kv and partitioned layouts, …) that later queries on the same corpus
  * read instead of rebuilding. Declare one with
  * `private val pairs = CorpusMemo[DataFrame]()` and read or build it
  * with `pairs(s, dir) { build }`.
  *
  * The contract, for every memo:
  *  - keyed per (session, corpus dir): another session or corpus gets
  *    its own entry;
  *  - built once: concurrent callers for the same key wait for the one
  *    build and get its value;
  *  - built outside the map's lock: a cheap insert claims a once-only
  *    cell and the build runs after it, so callers for other keys are
  *    never blocked and a build may read the same memo for another
  *    corpus (a build that reads its OWN key throws, as it cannot
  *    finish);
  *  - failures are not cached: the build's waiters get its exception
  *    and the next call builds again;
  *  - dropped by [[CorpusMemo.invalidate]].
  *
  * Entries hold localCheckpoint'ed tables whose storage blocks stay
  * pinned for as long as the memo references them, so a long-lived
  * session touching many corpora calls `invalidate` when it is done
  * with one (e.g. a soak harness moving to the next tenant's dataset).
  * Spark's ContextCleaner then unpersists the blocks once the dropped
  * references are GC'd — no explicit unpersist, which would not be safe
  * while a concurrent reader still holds the frame. There is no LRU
  * bound on purpose: the whole point is that repeat queries ride the
  * tables, so only the owner knows when a corpus is done. */
final class CorpusMemo[V] private () {
  import CorpusMemo.Cell

  private val cells = new ConcurrentHashMap[(SparkSession, String), Cell[V]]()

  def apply(s: SparkSession, dir: String)(build: => V): V = {
    val key = (s, dir)
    val mine = new Cell[V]
    cells.putIfAbsent(key, mine) match {
      case null =>
        try {
          val v = build
          mine.complete(v)
          v
        } catch {
          case t: Throwable =>
            cells.remove(key, mine)
            mine.completeExceptionally(t)
            throw t
        }
      case cell =>
        if ((cell.owner eq Thread.currentThread()) && !cell.isDone)
          throw new IllegalStateException(
            s"CorpusMemo build for $dir reads its own entry")
        try cell.join()
        catch { case e: CompletionException => throw e.getCause }
    }
  }

  private def completed: Int =
    cells.values.asScala.count(c => c.isDone && !c.isCompletedExceptionally)
}

object CorpusMemo {

  private final class Cell[V] extends CompletableFuture[V] {
    val owner: Thread = Thread.currentThread()
  }

  private val registered = new CopyOnWriteArrayList[CorpusMemo[_]]()

  /** A new memo, registered with [[invalidate]] and [[liveEntries]]. */
  def apply[V](): CorpusMemo[V] = {
    val m = new CorpusMemo[V]
    registered.add(m)
    m
  }

  /** Drop every memo's entry for this (session, corpus). */
  def invalidate(s: SparkSession, dir: String): Unit =
    registered.forEach(m => m.cells.remove((s, dir)): Unit)

  /** Completed entries across all memos (diagnostics/tests). */
  def liveEntries: Int = registered.asScala.map(_.completed).sum
}

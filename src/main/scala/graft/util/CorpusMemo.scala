package graft.util

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap, CopyOnWriteArrayList}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

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

  /** One table's formula: (session, corpus dir, lookup) => frame, where
    * the lookup returns the tables declared before it. */
  type Formula = (SparkSession, String, String => DataFrame) => DataFrame

  /** A set of once-per-corpus tables that persist to a [[GenStore]]
    * generation when the opt-in conf `key` is set, and live in the
    * session otherwise. Declare one with its tables in build order,
    * {{{
    *   private val store = CorpusMemo.Store(key, Some("sub"), fp)(
    *     ("a", (s, dir, _) => …), ("b", (_, _, t) => f(t("a"))))
    * }}}
    * and read a table with `store(s, dir, "b")`, memoized per
    * (session, corpus, table).
    *  - key unset: each table is `Checkpoints.stable` of its formula,
    *    whose lookup reads the earlier tables through the same memos;
    *  - key set: [[gen]] resolves the committed generation at
    *    `<key value>[/<sub>]` for fingerprint `fp(s, dir)`, or builds
    *    one, writing the tables in declared order with each formula's
    *    lookup reading the earlier ones back from the temp generation
    *    (peak lineage one stage deep); tables read that generation's
    *    parquet.
    *
    * Every memo inside is a registered [[CorpusMemo]], so [[invalidate]]
    * drops the store's entries. Stores that stay off this handle: the
    * minhash sigsPath index (`Pipeline.minhashSigs`), which serves
    * archived corpora that cannot be fingerprinted; the zone-map
    * manifests (`ZoneMaps.resolveOrBuild`), which re-resolve on every
    * call because `blockRows` can change within a session; and the
    * in-session-only `memo(s, dir)(x.stable)` sites, where a store would
    * hide nothing. */
  final class Store private (key: String, sub: Option[String],
                             fp: (SparkSession, String) => String,
                             tables: Seq[(String, Formula)]) {
    private val gens = CorpusMemo[Path]()
    private val frames =
      tables.map { case (t, f) => t -> (CorpusMemo[DataFrame](), f) }.toMap

    /** The committed generation serving this corpus, built on first
      * use; None while `key` is unset. */
    def gen(s: SparkSession, dir: String): Option[Path] =
      s.conf.getOption(key).map { p =>
        gens(s, dir) {
          GenStore.resolveOrBuild(s, sub.fold(p)(new Path(p, _).toString),
            fp(s, dir), tables.map(_._1)) { tmp =>
            def read(t: String) = s.read.parquet(new Path(tmp, t).toString)
            tables.foreach { case (t, f) =>
              f(s, dir, read).write.mode("overwrite")
                .parquet(new Path(tmp, t).toString)
            }
          }
        }
      }

    def apply(s: SparkSession, dir: String, table: String): DataFrame = {
      val (memo, formula) = frames(table)
      memo(s, dir) {
        gen(s, dir) match {
          case Some(g) => s.read.parquet(new Path(g, table).toString)
          case None => Checkpoints.stable(formula(s, dir, apply(s, dir, _)))
        }
      }
    }
  }

  object Store {
    def apply(key: String, sub: Option[String],
              fp: (SparkSession, String) => String)
             (tables: (String, Formula)*): Store =
      new Store(key, sub, fp, tables)
  }
}

package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.util.{CorpusMemo, FooterStats}

/** Graph analytics over derived co-occurrence graphs. Complements the
  * connected-components loop in [[Pipeline.minLabelComponents]] with the
  * other classic bulk graph kernel: triangle / wedge counting.
  */
object Graph {

  /** Per-order sorted distinct part baskets — the shared market-basket
    * projection behind the co-purchase and triangle queries. Pair fan-out
    * from these arrays happens map-side, bounded by basket size, so the
    * pair count grows linearly with orders (never a corpus self-join). */
  private def baskets(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))

  /** Ordered (a < b) part pairs, one row per order containing both. */
  private def basketPairs(s: SparkSession, dir: String): DataFrame =
    baskets(s, dir)
      .select(explode(flatten(transform(col("ps"), (a, i) =>
          transform(slice(col("ps"), i + 2, size(col("ps"))),
            b => struct(a.as("a"), b.as("b")))))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))

  /** Market-basket co-purchase mining: the top part pairs by the number
    * of distinct orders containing both (pair support — the count step of
    * A-priori / frequent-itemset mining). Pairs are generated map-side
    * from per-order sorted baskets, so support counting is one groupBy
    * over linear-in-orders pair rows — the classic formulation's
    * lineitem-with-lineitem self-join never happens. Ties broken by
    * (part_a, part_b) for a deterministic top-20. */
  def coPurchase(s: SparkSession, dir: String): DataFrame =
    pairSupport(s, dir)
      .select(col("a").as("part_a"), col("b").as("part_b"), col("support"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
      .limit(20)

  /** PERSISTED graph memos (round 15, VERDICT r14 #3): with
    * `spark.graft.graph.memoPath` set, the four per-corpus basket-graph
    * investments — pair supports, degrees, degree-oriented edges,
    * sorted adjacency — are built ONCE PER CORPUS FINGERPRINT and
    * every later SESSION adopts the stored tables instead of
    * rebuilding. The honest-100× probe pays its 515 s memo build once
    * per corpus, not once per session. The store is a
    * [[graft.util.CorpusMemo.Store]] ([[basket]], and the lazily-built
    * [[compStore]] and [[prEdgeStore]] under `<memoPath>/components` and
    * `<memoPath>/predges`): each table's formula is stated once, and the
    * handle builds it staged into a generation or checkpoints it in the
    * session. Fingerprint: row count + per-row-group footer min/max of
    * (l_orderkey, l_partkey) — the exact columns the graph derives from
    * ([[graft.util.FooterStats]]; footer reads only, no row data).
    * Default-off: declared queries and their hashes are untouched. The
    * first memoPath used per (session, corpus) wins for that session. */
  /** Memoized basket-graph corpus fingerprint — footer stats of the
    * exact columns the basket graph derives from, shared by the main
    * memo store and the components store so a session pays the digest
    * once per corpus. */
  private def basketFp(s: SparkSession, dir: String): String =
    fpCache(s, dir) {
      val (n, digest) = FooterStats.digest(s, s"$dir/lineitem.parquet",
        Seq("l_orderkey", "l_partkey"))
      s"$dir|n=$n|stats=$digest"
    }

  private val fpCache = CorpusMemo[String]()

  private val MemoPath = "spark.graft.graph.memoPath"

  /** The basket-graph tables: pair supports, then degrees, the
    * degree-oriented edges and the sorted adjacency, each from the ones
    * before it. */
  private val basket = CorpusMemo.Store(MemoPath, None,
      (s, dir) => s"graft-graphmemo-v1|${basketFp(s, dir)}")(
    ("pairs", (s, dir, _) =>
      basketPairs(s, dir).groupBy("a", "b").agg(count(lit(1)).as("support"))),
    ("degrees", (_, _, t) => degreesOf(t("pairs").select("a", "b"))),
    ("oriented", (_, _, t) =>
      orientByDegree(t("pairs").select("a", "b"), t("degrees"))),
    ("adj", (_, _, t) => sortedAdj(t("oriented"))))

  /** Partition count that keeps ONE task's sorted-array SMJ working set
    * inside its heap share (round 16, VERDICT r15 #2): the census and
    * Jaccard kernels join O(m)-row tables whose rows carry O(√m)-long
    * neighbor arrays, and at the honest-100× corpus the session default
    * (32 partitions) puts ~3.75 M array-rows through EACH task's sort —
    * 32 concurrent tasks in an 8 GB heap ran borderline (one warm
    * episode OOM'd jaccard-after-triangle; SURVEY §9). Sizing: each
    * concurrent task gets `heap × 0.25 / cores` of sort budget; input
    * bytes are the PARQUET sizes of the persisted oriented+adj tables
    * (free to read off the generation) times a 6× deserialization
    * expansion for long-array rows (snappy-sorted longs compress ~3-4×,
    * UnsafeArrayData adds headers). The count only ever grows past the
    * session default, never shrinks it, and is overridable via
    * `spark.graft.graph.joinPartitions`. More partitions of the SAME
    * total shuffle — the joins exchanged both sides anyway — so plan
    * shape, hashes, and network volume are unchanged; only per-task
    * peak memory drops. At 1000 executors the same rule sizes tasks to
    * executor heaps instead of hoping 32 partitions fit. */
  /** The shared sizing core (round-16 review consolidated the join and
    * contraction variants — the MetaFiles two-copies lesson): enough
    * partitions that `tableBytes × expansion` of in-memory working set
    * splits into per-task shares of `heap/4/cores`. The cap bounds
    * runaway INPUTS only — it is applied to `needed` BEFORE the floor,
    * so a session default wider than the cap is never narrowed. Long
    * math throughout (a PB-scale input overflowed the Int form). */
  private[graft] def sizedPartitions(sessionParts: Int, cores: Int,
                                     heapBytes: Long, tableBytes: Long,
                                     expansion: Int, cap: Int): Int = {
    val perTaskBudget = math.max(32L << 20, heapBytes / 4 / math.max(1, cores))
    val needed = (tableBytes * expansion) / perTaskBudget + 1L
    math.max(sessionParts, math.min(cap.toLong, needed).toInt)
  }

  private[graft] def arrayJoinPartitions(sessionParts: Int, cores: Int,
                                         heapBytes: Long,
                                         tableBytes: Long): Int =
    sizedPartitions(sessionParts, cores, heapBytes, tableBytes, 6, 4000)

  /** The heap and concurrent-task-count a TASK's sort budget divides:
    * on a cluster the EXECUTOR's heap and cores (the driver's heap says
    * nothing about where tasks run — round-16 review); in local mode
    * (no spark.executor.* set, or the executor memory conf's 1g default
    * while master is local) driver == executor, so Runtime.maxMemory and
    * defaultParallelism are the truth.
    *
    * Cluster fallbacks (round 17, VERDICT r16 #1 + ADVICE r16): every
    * unknown resolves in the direction that WIDENS, never narrows —
    * an overestimated budget is the one way this guard can silently
    * regress to the pre-r16 OOM coin flip on exactly the deployments it
    * was built for.
    *  - `spark.executor.memory` unset → Spark's documented executor
    *    default of 1 GiB, NOT the driver's Runtime.maxMemory (a
    *    big-driver/default-executor deployment would otherwise
    *    overestimate the per-task budget and under-widen the joins).
    *  - `spark.executor.memory` set → parsed with byteStringAsMb to
    *    match Spark's own MiB-default convention for this conf (a legal
    *    unitless "4096" means 4096 MiB; byteStringAsBytes read it as
    *    4096 BYTES, collapsing the budget to the 32 MB floor — safe
    *    direction, but a large partition-count distortion).
    *  - `spark.executor.cores` unset → on standalone that means the
    *    executor gets ALL worker cores, so 1 would overestimate the
    *    per-task share by up to cores-×; estimate cores-per-executor as
    *    defaultParallelism (total cores) over the live executor count
    *    instead. */
  private[graft] def clusterBudgetInputs(executorMemory: Option[String],
                                         executorCores: Option[String],
                                         defaultParallelism: Int,
                                         executorCount: Int): (Long, Int) = {
    val heap = executorMemory
      .map(v =>
        org.apache.spark.network.util.JavaUtils.byteStringAsMb(v) << 20)
      .getOrElse(1L << 30)
    val cores = executorCores.map(_.trim.toInt).getOrElse {
      val execs = math.max(1, executorCount)
      math.max(1, (defaultParallelism + execs - 1) / execs)
    }
    (heap, cores)
  }

  private def taskBudgetInputs(s: SparkSession): (Long, Int) =
    if (s.sparkContext.isLocal)
      (Runtime.getRuntime.maxMemory(), s.sparkContext.defaultParallelism)
    else clusterBudgetInputs(
      s.conf.getOption("spark.executor.memory"),
      s.conf.getOption("spark.executor.cores"),
      s.sparkContext.defaultParallelism,
      // getExecutorInfos includes the driver row; floor at 1 either way
      s.sparkContext.statusTracker.getExecutorInfos.length - 1)

  /** Resolve a sized width for this corpus's heavy stages — None off
    * the persisted-memo path (test/bench SFs: session defaults are
    * right there, and plans stay byte-identical to r15's). Memoized per
    * (session, corpus) in the caller's memo, one per width family:
    * committed generations are immutable, and on an object store
    * getContentSummary is a recursive remote listing worth paying once,
    * not per kernel invocation. The explicit
    * `spark.graft.graph.joinPartitions` override governs the whole
    * graph-kernel width family. */
  private def sizedPartsOf(s: SparkSession, dir: String,
                           memo: CorpusMemo[Int], tables: Seq[String],
                           expansion: Int, cap: Int): Option[Int] =
    s.conf.getOption("spark.graft.graph.joinPartitions").map(_.toInt)
      .orElse(basket.gen(s, dir).map { g =>
        memo(s, dir) {
          val fs = g.getFileSystem(s.sparkContext.hadoopConfiguration)
          val bytes = tables
            .map(t => fs.getContentSummary(new Path(g, t)).getLength).sum
          val (heap, cores) = taskBudgetInputs(s)
          sizedPartitions(
            scala.util.Try(s.conf.get("spark.sql.shuffle.partitions").toInt)
              .getOrElse(s.sparkContext.defaultParallelism),
            cores, heap, bytes, expansion, cap)
        }
      })

  private def joinPartsOf(s: SparkSession, dir: String): Option[Int] =
    sizedPartsOf(s, dir, joinPartsCache, Seq("oriented", "adj"), 6, 4000)

  private val joinPartsCache = CorpusMemo[Int]()

  /** Pair-support table — each ordered (a < b) part pair with the number
    * of distinct orders containing both. The per-corpus shared investment
    * behind the co-purchase top-k, the association rules, and (via its
    * key projection) the distinct basket-edge table — the same memo
    * discipline as the near-dup pair table in [[Pipeline]]. Built and
    * materialized once per (session, corpus). With
    * `spark.graft.graph.memoPath` set, served from the persisted
    * generation instead ([[basket]]). */
  private def pairSupport(s: SparkSession, dir: String): DataFrame =
    basket(s, dir, "pairs")

  /** The distinct basket-edge table (a < b): the key projection of
    * [[pairSupport]] — one corpus pass now serves the support queries AND
    * every edge-keyed graph kernel (triangles, degrees, Jaccard). */
  private def distinctEdges(s: SparkSession, dir: String): DataFrame =
    pairSupport(s, dir).select("a", "b")

  /** Vertex degrees of an undirected (a < b) edge list. */
  private[graft] def degreesOf(edges: DataFrame): DataFrame =
    edges.select(col("a").as("v"))
      .union(edges.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))

  /** Memoized degree table over [[distinctEdges]] — shared by the census
    * (orientation + wedge count) and the histogram; vertex-sized, so the
    * materialization is cheap insurance against recomputing the edge
    * endpoint exchange three times inside [[triangleCount]]. */
  private def degrees(s: SparkSession, dir: String): DataFrame =
    basket(s, dir, "degrees")

  /** Degree-ordered orientation: each undirected edge {a,b} is directed
    * toward its HIGHER endpoint in the total order (degree, id), so a
    * vertex's out-neighbors all have rank ≥ its own. This bounds
    * out-degree by O(√m) on ANY graph (a vertex with out-degree k has k
    * neighbors of degree ≥ its own degree ≥ k, which needs ≥ k²/2 edges) —
    * the Ortmann–Brandes / Schank–Wagner discipline that keeps per-pivot
    * wedge fan-out bounded even when a hub touches 10⁵ baskets. Rows carry
    * (u, w, kw) where kw = (degree, id) of the head, so downstream can
    * order two out-neighbors without re-joining degrees. */
  private[graft] def orientByDegree(edges: DataFrame, deg: DataFrame): DataFrame = {
    val keyed = edges
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    val ka = struct(col("da").as("kd"), col("a").as("kv"))
    val kb = struct(col("db").as("kd"), col("b").as("kv"))
    keyed.select(
      when(ka < kb,
        struct(col("a").as("u"), col("b").as("w"), kb.as("kw")))
        .otherwise(struct(col("b").as("u"), col("a").as("w"), ka.as("kw")))
        .as("o"))
      .select(col("o.u").as("u"), col("o.w").as("w"), col("o.kw").as("kw"))
  }

  /** Wedge candidates from an oriented edge list: unordered out-neighbor
    * pairs (x, y) of each pivot u, emitted with x before y in the
    * (degree, id) order so each candidate appears exactly once. Volume is
    * Σ C(out-deg, 2) ≤ O(m^1.5) under [[orientByDegree]] — per-hub fan-out
    * stays bounded no matter how skewed the degree distribution. */
  private[graft] def wedgeCandidates(oriented: DataFrame): DataFrame =
    oriented.select(col("u"), col("w").as("x"), col("kw").as("kx"))
      .join(oriented.select(col("u"), col("w").as("y"), col("kw").as("ky")),
        Seq("u"))
      .filter(col("kx") < col("ky"))
      .select(col("u"), col("x"), col("y"))

  /** Memoized degree-oriented edge list of the corpus basket graph —
    * the third per-corpus graph investment next to [[distinctEdges]] and
    * [[degrees]], shared by the triangle census and the edge-Jaccard
    * query (both pay the two degree-attach joins otherwise). */
  private def orientedOf(s: SparkSession, dir: String): DataFrame =
    basket(s, dir, "oriented")

  /** Sorted out-neighbor arrays, assembled SPILL-SAFELY (round 14,
    * VERDICT #5): the former `collect_set` aggregate buffered every
    * key's partial array in the aggregation map at once — at the honest
    * 100× probe's 120 M-edge build that meant a 48 GB executor heap
    * where 8 GB OOM'd. This shape is spillable by construction: one
    * u-keyed exchange (the same shuffle the aggregate paid) into
    * Spark's external sort — which spills to disk under pressure — then
    * a run-length pass assembles ONE key's array at a time, so peak
    * memory is the largest single adjacency list (O(√m)-bounded under
    * [[orientByDegree]]), not the sum of all open ones. Output is
    * byte-identical to `sort_array(collect_set(w))`: the oriented edge
    * list is distinct by construction and the in-partition sort is
    * (u, w) ascending (consecutive duplicates are skipped anyway, for
    * exact set parity on any caller-supplied edge list). */
  private[graft] def sortedAdj(oriented: DataFrame): DataFrame = {
    val s = oriented.sparkSession
    import s.implicits._
    oriented.select(col("u"), col("w")).as[(Long, Long)]
      .repartition(col("u"))
      .sortWithinPartitions("u", "w")
      .mapPartitions { it =>
        val in = it.buffered
        new Iterator[(Long, Array[Long])] {
          def hasNext: Boolean = in.hasNext
          def next(): (Long, Array[Long]) = {
            val u = in.head._1
            val buf = scala.collection.mutable.ArrayBuilder.make[Long]
            var last = Long.MinValue
            var first = true
            while (in.hasNext && in.head._1 == u) {
              val w = in.next()._2
              if (first || w != last) buf += w
              last = w; first = false
            }
            (u, buf.result())
          }
        }
      }.toDF("u", "ns")
  }

  /** Memoized sorted out-neighbor adjacency over [[orientedOf]]. */
  private def adjOf(s: SparkSession, dir: String): DataFrame =
    basket(s, dir, "adj")

  /** The oriented⋈adj(u)⋈adj(w) spine both kernels close triangles on,
    * with the array-SMJ partition bound applied when the caller has one
    * ([[joinPartsOf]]): both sides of each equi-join are pre-hashed to
    * the SAME count, so the join adds no further exchange — the explicit
    * repartition IS the join's shuffle, just wider. */
  private def triangleSpine(oriented: DataFrame, adj: DataFrame,
                            parts: Option[Int]): DataFrame = {
    def byKey(df: DataFrame, k: String): DataFrame =
      parts.map(n => df.repartition(n, col(k))).getOrElse(df)
    val left = byKey(oriented.select(col("u"), col("w")), "u")
      .join(byKey(adj, "u"), "u").withColumnRenamed("ns", "nu")
    byKey(left, "w")
      .join(byKey(adj.select(col("u").as("w"), col("ns").as("nw")), "w"), "w")
  }

  /** Census core over an explicit edge list + degree table (exposed for
    * the hub-graph spec, which feeds an adversarial synthetic graph). */
  private[graft] def censusOf(edges: DataFrame, deg: DataFrame): DataFrame = {
    val oriented = orientByDegree(edges, deg)
    censusOf(edges, deg, oriented, sortedAdj(oriented), None)
  }

  private def censusOf(edges: DataFrame, deg: DataFrame,
                       oriented0: DataFrame, adj0: DataFrame,
                       joinParts: Option[Int]): DataFrame = {
    // d·(d−1) is always even, so the integer halving is exact
    // coalesce: sum over an empty degree table is NULL, and a NULL count
    // would poison the census row (and the NaN-sensitive driver compare)
    val nW = deg.agg(coalesce(sum(expr("d * (d - 1) div 2")), lit(0L))
      .cast("long").as("n_wedges"))
    val oriented = oriented0
    // EDGE-ITERATOR closing step: per-pivot sorted out-neighbor arrays,
    // then ONE codegen'd two-pointer intersection per oriented edge —
    // each triangle {x<y<z} (in the (degree,id) order) is counted exactly
    // once, at its lowest edge (x,y), as z ∈ N⁺(x) ∩ N⁺(y). Replaces the
    // earlier wedge-candidate equi-join, which exchanged every candidate
    // row (41M at sf0.1, → billions at 100×); here the exchange volume is
    // edge rows carrying O(√m)-bounded arrays (orientation bounds every
    // out-degree), measured ~30% faster and with the array bound intact
    // under adversarial skew. The inner join on w silently drops edges
    // whose head has no out-neighbors — those contribute 0 triangles.
    val adj = adj0
    val tri = triangleSpine(oriented, adj, joinParts)
      .select(graft.functions.VectorExpressions
        .sortedIntersectCount(col("nu"), col("nw")).as("t"))
    val nE = edges.agg(count(lit(1)).as("n_edges"))
    val nT = tri.agg(coalesce(sum(col("t")), lit(0L)).as("n_triangles"))
    nE.crossJoin(broadcast(nW)).crossJoin(broadcast(nT))
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          (lit(3L) * col("n_triangles")).cast("double") /
            col("n_wedges").cast("double"))
          .otherwise(0.0).as("closure"))
  }

  /** Triangle census of the part co-occurrence graph: parts are linked
    * when some order contains both (the market-basket projection), and the
    * census reports edges, wedges (unordered length-2 paths, Σ C(deg,2)),
    * triangles, and the global clustering coefficient 3·T/W.
    *
    * Scale shape: the pair explosion is per-order and bounded by basket
    * size (the same bounded-blocking idea as the dedup shingle cap), so
    * edges grow linearly with orders. Triangles come from the
    * DEGREE-ORIENTED edge-iterator ([[orientByDegree]] + per-edge sorted
    * out-neighbor intersection): each edge points at its
    * higher-(degree, id) endpoint, bounding every pivot's out-degree by
    * O(√m), so a hub part appearing in 10⁵ baskets contributes
    * O(√m)-bounded arrays instead of C(10⁵, 2) ≈ 5×10⁹ wedge rows — the
    * plan survives adversarially skewed corpora, not just the uniform
    * fixture (the earlier id-order orientation was ~1.5× faster HERE but
    * unbounded per-hub; scale wins). Each triangle is counted exactly
    * once (at its (degree, id)-lowest edge). The wedge COUNT comes straight
    * off the shared degree table (Σ d·(d−1)/2 — no join at all); the edge
    * list and degree table are per-corpus memoized investments shared with
    * [[degreeHist]]; the closure fraction is one IEEE division of exact
    * int64 counts. */
  def triangleCount(s: SparkSession, dir: String): DataFrame =
    censusOf(distinctEdges(s, dir), degrees(s, dir),
      orientedOf(s, dir), adjOf(s, dir), joinPartsOf(s, dir))

  /** Degree distribution of the part co-occurrence graph — the first
    * diagnostic a graph pipeline prints (skew detection on the same
    * degree table the census orients by). Reads the memoized per-corpus
    * [[degrees]] table, so warm cost is one tiny groupBy over vertices;
    * output is bounded by the number of distinct degrees. */
  def degreeHist(s: SparkSession, dir: String): DataFrame =
    degrees(s, dir)
      .groupBy("d").agg(count(lit(1)).as("n_parts"))
      .orderBy("d")

  /** Per-edge structural similarity: neighbor-set Jaccard
    * |Γ(a)∩Γ(b)| / |Γ(a)∪Γ(b)| for every edge of the basket-projection
    * graph (open neighborhoods, so a and b land in the union — each is
    * the other's neighbor — but never the intersection). This is the
    * SCAN/SNN edge weight: a high-Jaccard edge joins two parts whose
    * baskets overlap structurally, the signal community detection and
    * edge-pruning pipelines threshold on.
    *
    * Scale shape: common-neighbor counts are NOT computed by intersecting
    * full adjacency lists (a hub's full neighborhood is unbounded).
    * Instead the triangle machinery is reused — every common neighbor z
    * of an edge {a,b} closes the triangle {a,b,z}, so the census's
    * degree-oriented edge-iterator enumerates each such triangle exactly
    * once (O(√m)-bounded arrays, [[orientByDegree]]), `array_intersect`
    * materializes its third vertex, and each triangle credits its THREE
    * edges. The credit exchange is output-linear (3 rows per triangle);
    * union size then needs only the memoized degree table:
    * |Γ(a)∪Γ(b)| = da + db − t. Jaccard is reported in exact integer ppm
    * so the top-20 ranking is bit-reproducible. */
  def edgeJaccard(s: SparkSession, dir: String): DataFrame = {
    val edges = distinctEdges(s, dir)
    val deg = degrees(s, dir)
    val oriented = orientedOf(s, dir)
    val adj = adjOf(s, dir)
    val parts = joinPartsOf(s, dir)
    // the same width bound on the kernel's TAIL (round 16: the probe's
    // one OOM was NOT in the spine joins but here — the credit
    // aggregation's final hash map, the edges⋈credits SMJ sort and the
    // TakeOrdered all pipeline in ONE stage, and at the session default
    // each of 32 tasks held ~3.75 M-edge maps+sorts at once). Widening
    // replaces exchanges these operators insert anyway; the explicit
    // pre-agg repartition does forgo map-side partial aggregation of
    // the raw credit rows (they are 2 longs each — volume, not width),
    // trading bounded shuffle bytes for a deterministic per-task memory
    // bound, the same trade sortedAdj makes. Test/bench SFs: parts is
    // None and the plan is byte-identical to r15's.
    def byKeys(df: DataFrame, ks: String*): DataFrame =
      parts.map(n => df.repartition(n, ks.map(col): _*)).getOrElse(df)
    val tri = triangleSpine(oriented, adj, parts)
      .select(col("u"), col("w"),
        explode(graft.functions.VectorExpressions
          .sortedIntersect(col("nu"), col("nw"))).as("z"))
    val credits = byKeys(tri.select(explode(array(
        struct(least(col("u"), col("w")).as("a"),
               greatest(col("u"), col("w")).as("b")),
        struct(least(col("u"), col("z")).as("a"),
               greatest(col("u"), col("z")).as("b")),
        struct(least(col("w"), col("z")).as("a"),
               greatest(col("w"), col("z")).as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b")), "a", "b")
      .groupBy("a", "b").agg(count(lit(1)).as("t"))
    // the (a,b)-partitioned join output does NOT satisfy the single-key
    // degree joins' clustering, so each would re-exchange at the session
    // default — widen those exchanges too (byKeys is identity off the
    // scale path)
    byKeys(byKeys(edges, "a", "b").join(credits, Seq("a", "b"), "left")
      .na.fill(0L, Seq("t")), "a")
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(byKeys(deg.select(col("v").as("b"), col("d").as("db")), "b"), "b")
      // union ≥ 2 always (a ∈ Γ(b), b ∈ Γ(a)), so the div is safe
      .select(col("a").as("part_a"), col("b").as("part_b"),
        col("t").as("n_common"),
        expr("t * 1000000 div (da + db - t)").as("jaccard_ppm"))
      .orderBy(col("jaccard_ppm").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  /** Integer-exact PageRank over the customer–supplier purchase graph
    * (undirected bipartite: an edge links a customer to every supplier
    * that fulfilled one of their orders; node ids namespaced as
    * 2·custkey / 2·suppkey+1). Ranks live in int64 micro-units
    * (r₀ = 1 000 000) and every update is integer arithmetic —
    * contribution = r div deg, damping r' = 150 000 + (85·Σ) div 100 —
    * so the result is bit-reproducible under any partitioning or
    * reduce order, the same determinism discipline as the int64 k-means
    * ([[Clustering]]). Three unrolled power iterations; the DuckDB
    * oracle replays the identical integer recurrence.
    *
    * Scale shape: each iteration is one shuffle join of the node-sized
    * rank table against the edge list plus one groupBy(dst) — the
    * canonical distributed PageRank plan (contributions combine
    * map-side). The edge list is derived once and localCheckpoint'ed so
    * iterations don't replay the orders⋈lineitem upstream; every node
    * has degree ≥ 1 by construction, so there is no dangling-mass term. */
  def pageRank(s: SparkSession, dir: String): DataFrame = {
    // the degree-annotated edge list is a per-corpus investment like
    // [[distinctEdges]]: derived (orders⋈lineitem, distinct, symmetrize,
    // degree-attach) and materialized ONCE per (session, corpus), then
    // every pageRank call — and every iteration within a call — re-reads
    // the materialized blocks. Out-degree is STATIC across iterations, so
    // attaching it here means each superstep is a single ranks⋈edges
    // join instead of ranks⋈deg⋈edges.
    // with `spark.graft.graph.memoPath` set, it persists per corpus
    // fingerprint in its own store, `prEdgeStore`.
    val edgesD = prEdgeStore(s, dir, "edges")
    // fixed unroll, ONE action: no per-iteration checkpoint needed — the
    // whole recurrence is a single DAG, so r1/r2 are each computed once
    // and the edge-list exchange is reused across iterations (unlike a
    // convergence loop, which must checkpoint between actions)
    var ranks = edgesD.groupBy("u").agg(first(col("d")).as("d"))
      .select(col("u"), lit(1000000L).as("r"))
    for (_ <- 1 to 3) {
      val contrib = ranks.join(edgesD, "u")
        .select(col("v"), expr("r div d").as("c"))
      ranks = contrib.groupBy(col("v").as("u"))
        .agg(sum(col("c")).as("s"))
        .select(col("u"), expr("150000 + (85 * s) div 100").as("r"))
    }
    ranks.orderBy(col("r").desc, col("u")).limit(20)
      .select(col("u").as("node"),
        when(col("u") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("kind"),
        col("r").as("rank_micro"))
  }

  /** PageRank's degree-attached edge list, under `<memoPath>/predges`
    * (round 16). It derives from DIFFERENT columns than the basket
    * graph — orders(o_orderkey,o_custkey) ⋈ lineitem(l_orderkey,
    * l_suppkey) — so it carries its own two-table footer fingerprint,
    * and its own lazily-built store (a basket-only deployment never
    * pays this derive). Each power iteration then re-reads committed
    * parquet in every session instead of re-deriving the
    * orders⋈lineitem distinct per session. */
  private val prEdgeStore = CorpusMemo.Store(MemoPath, Some("predges"),
      { (s, dir) =>
        val (nl, dl) = FooterStats.digest(s, s"$dir/lineitem.parquet",
          Seq("l_orderkey", "l_suppkey"))
        val (no, dno) = FooterStats.digest(s, s"$dir/orders.parquet",
          Seq("o_orderkey", "o_custkey"))
        s"graft-graphpr-v1|$dir|l=$nl:$dl|o=$no:$dno"
      })(
    ("edges", { (s, dir, _) =>
      val e0 = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("u"), (col("l_suppkey") * 2 + 1).as("v"))
        .distinct()
      val edges = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      val deg = edges.groupBy("u").agg(count(lit(1)).as("d"))
      edges.join(deg, "u")
    }))

  /** Connected components of the basket graph — the [[Pipeline
    * .minLabelComponents]] kernel (convergent min-label propagation with
    * a loud non-convergence guard) applied to the product co-purchase
    * topology, reported as the component-size census: how many isolated
    * product clusters exist and how much of the catalog the giant
    * component swallows. The assortment-connectivity diagnostic —
    * category managers read the giant-component share, dedup readers
    * already know the kernel from `q_dedup_clusters`.
    *
    * Scale shape: rides the memoized [[pairSupport]] edge projection;
    * each superstep is one edges⋈labels equi-join + min-aggregation
    * (label table is vertex-sized), rounds bounded by component
    * diameter; the census re-aggregates the vertex-sized label table
    * twice. */
  /** Persisted component labels (round 16): the convergent min-label
    * loop is the most superstep-heavy kernel in the family (145 s per
    * session at the honest-100× corpus) and its output is a VERTEX-sized
    * table — the classic persist-don't-recompute shape. Own lazily-built
    * store under `<memoPath>/components` with its own fingerprint (the
    * AnnModels discipline: a triangle-only deployment never pays the
    * label-propagation loop), derived from the SAME basket fingerprint
    * as the main memo. The build stages through [[distinctEdges]], so a
    * cold store builds the main memo first and the loop reads its
    * committed parquet — one stage deep, restartable. */
  private val compStore = CorpusMemo.Store(MemoPath, Some("components"),
      (s, dir) => s"graft-graphcomp-v1|${basketFp(s, dir)}")(
    ("labels", (s, dir, _) => Pipeline.minLabelComponents(distinctEdges(s, dir),
      contractParts = contractPartsOf(s, dir))))

  /** Partition count that keeps ONE contraction task's union-find map
    * inside its heap share (round 16 — the components sibling of
    * [[arrayJoinPartitions]]). The 36× expansion is DELIBERATELY the
    * boxed-HashMap-era sizing even though the contraction now runs on
    * the ~24 B/entry [[graft.util.LongLongMap]] with streamed output:
    * the probe needed both halves (width alone re-OOM'd 3-for-3), and
    * keeping the conservative factor leaves ~4× headroom over the
    * primitive map's actual footprint for input-tuple churn and
    * shuffle-write buffers — do not "re-derive" it down to the map's
    * byte count. */
  private[graft] def unionFindPartitions(sessionParts: Int, cores: Int,
                                         heapBytes: Long,
                                         pairBytes: Long): Int =
    sizedPartitions(sessionParts, cores, heapBytes, pairBytes, 36, 8000)

  /** Contraction width for this corpus — sized from the persisted pairs
    * table's bytes; None off the persisted-memo path (session default —
    * dedup clusters and test/bench SFs unchanged). */
  private def contractPartsOf(s: SparkSession, dir: String): Option[Int] =
    sizedPartsOf(s, dir, contractPartsCache, Seq("pairs"), 36, 8000)

  private val contractPartsCache = CorpusMemo[Int]()

  def components(s: SparkSession, dir: String): DataFrame = {
    // the vertex→component label table is the same kind of per-corpus
    // investment as the dedup cluster table (Pipeline.clustersCache): the
    // convergent loop runs once per (session, corpus), downstream reads
    // re-read the materialized vertex-sized table — and with
    // `spark.graft.graph.memoPath` set, once per CORPUS ([[compStore]])
    val comp = compStore(s, dir, "labels")
    comp.groupBy("cluster_id").agg(count(lit(1)).as("component_size"))
      .groupBy("component_size")
      .agg(count(lit(1)).as("n_components"))
      .select(col("component_size"), col("n_components"),
        (col("component_size") * col("n_components")).as("n_vertices"))
      .orderBy("component_size")
  }

  /** Association-rule mining over the basket graph — the confidence/lift
    * step of A-priori that turns [[coPurchase]]'s raw pair supports into
    * directed rules. For every ordered pair (antecedent → consequent)
    * with pair support ≥ 2: `conf = supp(ab)/supp(a)` and
    * `lift = conf / (supp(b)/n_baskets)`, both in exact integer ppm (the
    * lift numerator `supp(ab)·n_baskets·10⁶` routes through
    * DECIMAL(38,0) — it overflows int64 at scale). Top-20 by
    * (lift, conf, keys) — a total order, so the cut is deterministic.
    *
    * Scale shape: rides the memoized [[pairSupport]] table (pairs are
    * generated map-side from per-order baskets, linear in orders — the
    * corpus is NOT re-read here); item supports and the basket count are
    * one distinct-projection pass over lineitem; the rule join keys on
    * single items, so both sides are catalog-sized, and AQE broadcasts
    * the item-support side when it fits (no forced hint — the lesson of
    * the round-7 `dedupMinhash` broadcast flag). */
  def assocRules(s: SparkSession, dir: String): DataFrame = {
    val sp = pairSupport(s, dir).filter(col("support") >= 2)
    val rules = sp.select(col("a").as("antecedent"), col("b").as("consequent"),
        col("support"))
      .unionAll(sp.select(col("b").as("antecedent"), col("a").as("consequent"),
        col("support")))
    val dp = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val item = dp.groupBy(col("l_partkey")).agg(count(lit(1)).as("isupp"))
    val nb = dp.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("nb"))
    rules
      .join(item.select(col("l_partkey").as("antecedent"),
        col("isupp").as("supp_a")), "antecedent")
      .join(item.select(col("l_partkey").as("consequent"),
        col("isupp").as("supp_c")), "consequent")
      .crossJoin(broadcast(nb))
      .select(col("antecedent"), col("consequent"), col("support"),
        expr("support * 1000000L div supp_a").as("conf_ppm"),
        expr("cast(support as decimal(38,0)) * nb * 1000000" +
          " div (cast(supp_a as decimal(38,0)) * supp_c)")
          .cast("long").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("conf_ppm").desc,
        col("antecedent"), col("consequent"))
      .limit(20)
  }
}

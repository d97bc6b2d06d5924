package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Fns
import graft.operators.{Skew, Temporal}

/** Property-style parity checks on seeded random inputs — the fixture
  * specs prove the fixture, these prove the rule on arbitrary data.
  * (Plain seeded generation: deterministic, no extra test dependencies.) */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(42)
  private def asciiStr(max: Int): String = {
    val n = rnd.nextInt(max + 1)
    (0 until n).map(_ => (32 + rnd.nextInt(95)).toChar).mkString
  }

  test("polyHash equals the plain Scala character fold on random ASCII") {
    val strs = (0 until 200).map(_ => asciiStr(80)) :+ "" :+ "a" * 500
    val got = strs.toDF("s").select(Fns.polyHash(col("s"))).as[Long].collect()
    val want = strs.map(_.foldLeft(0L)((h, c) => (h * 31 + c.toLong) % 1000000007L))
    assert(got.toSeq === want)
  }

  test("foldDot equals the strict left-to-right Scala fold on random vectors") {
    val pairs = (0 until 50).map { _ =>
      val n = rnd.nextInt(40)
      ((0 until n).map(_ => rnd.nextDouble() * 2000 - 1000),
       (0 until n).map(_ => rnd.nextDouble() * 2000 - 1000))
    }
    val got = pairs.toDF("a", "b").select(Fns.dotD(col("a"), col("b"))).as[Double].collect()
    val want = pairs.map { case (a, b) =>
      a.zip(b).foldLeft(0.0)((s, xy) => s + xy._1 * xy._2)
    }
    got.zip(want).foreach { case (g, w) =>
      assert(java.lang.Double.doubleToLongBits(g) ===
             java.lang.Double.doubleToLongBits(w))
    }
  }

  test("saltedJoin row multiset equals plain join on random data and salt counts") {
    (1 to 5).foreach { trial =>
      val fs = (0 until 60).map(_ => (rnd.nextInt(6).toLong, rnd.nextInt(1000).toLong))
      val ds = (0 until 6).map(k => (k.toLong, s"name$k"))
      val k = 1 + rnd.nextInt(9)
      val fact = fs.toDF("k", "payload")
      val dim = ds.toDF("k", "name")
      val plain = fact.join(dim, Seq("k")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
      val salted = Skew.saltedJoin(fact, dim, "k", k, col("payload")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
      assert(salted === plain, s"trial $trial salts=$k")
    }
  }

  /** Labels of both paths over the edges checkpointed, as the memo
    * tables the kernel labels are: the measured width (one union-find
    * task at these sizes) and a forced width of 4 (contraction +
    * supersteps). */
  private def bothWidths(edges: org.apache.spark.sql.DataFrame,
                         floorRounds: Int): Seq[(String, Map[Long, Long])] = {
    val table = edges.localCheckpoint()
    Seq("measured" -> None, "4" -> Some(4)).map { case (w, parts) =>
      w -> graft.operators.Pipeline
        .minLabelComponents(table, floorRounds, contractParts = parts)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
  }

  test("minLabelComponents equals union-find on random graphs") {
    (1 to 4).foreach { trial =>
      // sparse random graphs over ~25 vertices; floorRounds forced to 1 so
      // on the superstep path the convergence phase (not the unchecked
      // fast path) does the work
      val edges = (0 until 20).map(_ =>
        (rnd.nextInt(25).toLong + 1, rnd.nextInt(25).toLong + 1))
        .filter(e => e._1 != e._2)
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v)).toMap
      bothWidths(edges.toDF("a", "b"), floorRounds = 1).foreach { case (w, got) =>
        assert(got === want, s"trial $trial width $w")
      }
    }
  }

  test("corun equals the two-map sequential cogroup on random KVs, any partitioning") {
    (1 to 4).foreach { trial =>
      val l = (0 until 40).map(_ => (s"k${rnd.nextInt(8)}", asciiStr(6)))
      val r = (0 until 25).map(_ => (s"k${rnd.nextInt(10)}", asciiStr(6)))
      val co: graft.mr.MapReduceJob.CoReduceF = (_, ls, rs) =>
        s"${ls.sorted.mkString("|")}~${rs.sorted.mkString("|")}"
      val parts = 1 + rnd.nextInt(5)
      val got = graft.mr.MapReduceJob.corun(spark,
        l.toDS().repartition(parts), r.toDS().repartition(parts), co)
        .collect().toMap
      val lm = l.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val rm = r.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val want = (lm.keySet ++ rm.keySet).map { k =>
        k -> s"${lm.getOrElse(k, Nil).sorted.mkString("|")}~${rm.getOrElse(k, Nil).sorted.mkString("|")}"
      }.toMap
      assert(got === want, s"trial $trial")
    }
  }

  test("contracted minLabelComponents equals union-find on random graphs") {
    // the local-contraction + pointer-jumping kernel is the newest moving
    // part: replay 8 random graph shapes (sparse, dense, chain-heavy)
    // against an exact driver-side union-find
    (1 to 8).foreach { trial =>
      val nV = 5 + rnd.nextInt(40)
      val nE = 1 + rnd.nextInt(60)
      val base = rnd.nextInt(1000).toLong
      val edges = (0 until nE).map { _ =>
        (base + rnd.nextInt(nV), base + rnd.nextInt(nV))
      }.filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val want = verts.map(v => v -> find(v)).toMap
        bothWidths(edges.toDF("doc_a", "doc_b"), floorRounds = 4).foreach {
          case (w, got) =>
            assert(got === want, s"trial $trial width $w (v=$nV e=${edges.length})")
        }
      }
    }
  }

  test("triangle census core equals brute force on random basket graphs") {
    import graft.operators.Graph
    (1 to 3).foreach { trial =>
      // random baskets → same derivation the operator uses
      val baskets = (0 until 25).map(_ =>
        (0 until 2 + rnd.nextInt(4)).map(_ => rnd.nextInt(12).toLong).distinct.sorted)
      val edges = baskets.flatMap(ps =>
        for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))).toSet
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val nTri = adj.valuesIterator.map { ns =>
        val sq = ns.toSeq.sorted
        (for (i <- sq.indices; j <- i + 1 until sq.length
              if edges.contains((sq(i), sq(j)))) yield 1).size.toLong
      }.sum
      // the SHIPPED census core (degree-ordered orientation), not a replica
      val e = edges.toSeq.toDF("a", "b")
      val r = Graph.censusOf(e, Graph.degreesOf(e)).collect().head
      assert(r.getLong(0) === edges.size.toLong, s"trial $trial edges")
      assert(r.getLong(2) === nTri, s"trial $trial triangles")
    }
  }

  test("degree orientation bounds max out-degree by O(sqrt m) on random graphs") {
    import graft.operators.Graph
    (1 to 3).foreach { trial =>
      val edges = (0 until 150).map(_ =>
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      val e = edges.toDF("a", "b")
      val outDeg = Graph.orientByDegree(e, Graph.degreesOf(e))
        .groupBy("u").count().agg(max("count")).head().getLong(0)
      val m = edges.size.toDouble
      // Schank–Wagner bound: a vertex with out-degree k has k neighbors of
      // degree ≥ k, requiring ≥ k²/2 edges → k ≤ √(2m)
      assert(outDeg <= math.sqrt(2 * m) + 1,
        s"trial $trial: out-degree $outDeg exceeds sqrt(2·$m)")
    }
  }

  test("kv connector roundtrips random separator-free KVs exactly") {
    (1 to 3).foreach { trial =>
      val data = (0 until 60).map { i =>
        (s"k${rnd.nextInt(20)}_$i", rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString)
      }
      val dir = graft.util.TempDirs.create("graft_kvprop").toString
      data.toDF("key", "value").repartition(3)
        .write.format("graftkv").mode("overwrite").save(dir)
      val back = spark.read.format("graftkv").load(dir)
        .collect().map(r => (r.getString(0), r.getString(1)))
      assert(back.sorted.toSeq === data.sorted, s"trial $trial")
    }
  }

  test("asofJoin equals the per-row greatest-preceding lookup on random series") {
    (1 to 5).foreach { trial =>
      val ls = (0 until 30).map(_ => (rnd.nextInt(4).toLong, rnd.nextInt(100).toLong))
      val rsRaw = (0 until 12).map(_ => (rnd.nextInt(4).toLong, rnd.nextInt(100).toLong))
      val rdedup = rsRaw.distinct.map { case (k, t) => (k, t, k * 1000 + t) }
      val left = ls.zipWithIndex
        .map { case ((k, t), i) => (k, t, i.toLong) }.toDF("k", "lt", "lid")
      val right = rdedup.toDF("k", "rt", "payload")
      val got = Temporal.asofJoin(left, right, "k", "lt", "rt", Seq("payload"))
        .collect().map(r => (r.getLong(r.fieldIndex("lid")),
          Option(r.get(r.fieldIndex("payload"))).map(_.asInstanceOf[Long]))).toMap
      val want = ls.zipWithIndex.map { case ((k, t), i) =>
        val cands = rdedup.filter(r => r._1 == k && r._2 <= t)
        i.toLong -> (if (cands.isEmpty) None else Some(cands.maxBy(_._2)._3))
      }.toMap
      assert(got === want, s"trial $trial")
    }
  }

  test("PNG synthesis round-trips through javax.imageio on random dimensions") {
    import graft.multimodal.Codecs
    (1 to 40).foreach { trial =>
      val w = 1 + rnd.nextInt(400)
      // keep one stored block: h*(1+3w) <= 65535
      val hMax = math.max(1, 65535 / (1 + 3 * w))
      val h = 1 + rnd.nextInt(hMax)
      val pv = rnd.nextInt(256)
      val blob = Codecs.pngRgb(w, h, pv)
      assert(blob.length === h * (1 + 3 * w) + 68, s"trial $trial ($w x $h)")
      assert(Codecs.imageMeta(blob) === ((w.toLong, h.toLong, "png")),
        s"trial $trial ($w x $h)")
      val (dw, dh, sum) = Codecs.imagePixelSum(blob)
      assert((dw, dh) === ((w.toLong, h.toLong)), s"trial $trial")
      assert(sum === w.toLong * h * 3 * pv % 1000000007L,
        s"trial $trial ($w x $h pv=$pv)")
    }
  }

  test("zone_map pruning is sound for random box predicates") {
    import graft.operators.Relational
    import org.apache.spark.sql.functions._
    val sf = SparkTestSession.Sf
    try {
      (1 to 8).foreach { trial =>
        // random boxes, including degenerate/empty bands: a zone map may
        // over-read but NEVER under-read, whatever the predicate
        val cxLo = rnd.nextInt(400).toLong
        val cxHi = cxLo + rnd.nextInt(600)
        val dyLo = (1500 + rnd.nextInt(3200)).toLong
        val dyHi = dyLo + rnd.nextInt(800)
        spark.conf.set("spark.graft.zonemap.box", s"$cxLo,$cxHi,$dyLo,$dyHi")
        val rows = Relational.zoneMap(spark, sf).collect()
        assert(rows.map(_.getString(0)).toSeq === Seq("natural", "zorder"),
          s"trial $trial")
        val direct = Tables.orders(spark, sf)
          .select(pmod(col("o_custkey"), lit(65536L)).as("cx"),
            pmod(expr("datediff(to_date(o_orderdate), '1990-01-01')")
              .cast("long"), lit(65536L)).as("dy"))
          .filter(col("cx").between(cxLo, cxHi) && col("dy").between(dyLo, dyHi))
          .count()
        rows.foreach { r =>
          assert(r.getLong(4) === direct,
            s"trial $trial ${r.getString(0)} box=$cxLo,$cxHi,$dyLo,$dyHi")
          assert(r.getLong(3) >= r.getLong(4), s"trial $trial over-read bound")
          assert(r.getLong(2) <= r.getLong(1), s"trial $trial block bound")
        }
      }
    } finally spark.conf.unset("spark.graft.zonemap.box")
  }

  test("GIF synthesis round-trips through javax.imageio on random parameters") {
    import graft.multimodal.Codecs
    (1 to 25).foreach { trial =>
      val w = 1 + rnd.nextInt(300)
      val h = 1 + rnd.nextInt(40)
      val nf = 1 + rnd.nextInt(12)
      val base = rnd.nextInt(128)
      val blob = Codecs.gifGray(w, h, nf, f => (base + f) % 128)
      val n = w * h
      val d = n + (n - 1) / 125 + 2
      assert(blob.length === 398 + nf * (12 + d + (d + 254) / 255),
        s"trial $trial ($w x $h x $nf)")
      assert(Codecs.imageMeta(blob) === ((w.toLong, h.toLong, "gif")),
        s"trial $trial")
      val step = 1 + rnd.nextInt(4)
      val (cnf, cw, ch, sums) = Codecs.gifFrameSums(blob, _ % step == 0)
      assert(cnf === nf, s"trial $trial")
      assert((cw, ch) === ((w.toLong, h.toLong)), s"trial $trial")
      assert(sums.map(_._1) === (0 until nf by step), s"trial $trial")
      sums.foreach { case (f, s) =>
        assert(s === w.toLong * h * ((base + f) % 128) % 1000000007L,
          s"trial $trial f=$f")
      }
    }
  }

  test("WAV synthesis round-trips through javax.sound on random parameters") {
    import graft.multimodal.Codecs
    (1 to 40).foreach { trial =>
      val rate = Seq(8000, 16000, 44100)(rnd.nextInt(3))
      val n = rnd.nextInt(5000)
      val sv = rnd.nextInt(32768)
      val blob = Codecs.wavPcm16Mono(rate, n, sv)
      assert(blob.length === 44 + 2 * n, s"trial $trial")
      assert(Codecs.audioMeta(blob) === ((n.toLong, rate.toLong, "wave")),
        s"trial $trial (rate=$rate n=$n)")
      val (frames, sum) = Codecs.audioPcmSum(blob)
      assert(frames === n.toLong, s"trial $trial")
      assert(sum === n.toLong * ((sv & 0xff) + (sv >> 8)) % 1000000007L,
        s"trial $trial (n=$n sv=$sv)")
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim

import graft.operators.Graph
import graft.sinks.ParquetLayout

/** Round-9 layout/graph additions: Morton-curve bit arithmetic, the
  * z-ordered layout's row-group-skipping claim as an EXECUTED-METRIC fact,
  * and triangle/clustering-coefficient counting against brute force.
  */
class ZOrderTriangleSpec extends SparkSpec {
  import spark.implicits._

  private def zRef(a: Long, b: Long, bits: Int): Long =
    (0 until bits).foldLeft(0L) { (acc, i) =>
      acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
    }

  test("zValue: hand-checked interleave and reference property") {
    val df = Seq((5L, 3L), (0L, 0L), (255L, 255L), (1L, 0L), (0L, 1L))
      .toDF("a", "b")
    val got = df.select(ParquetLayout.zValue(col("a"), col("b"), 8))
      .as[Long].collect().toSeq
    // a=101b -> bits 0,4; b=011b -> bits 1,3  => 11011b = 27
    assert(got == Seq(27L, 0L, 65535L, 1L, 2L))
    val rnd = new scala.util.Random(11)
    val pairs = Seq.fill(200)((rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong))
    val viaCol = pairs.toDF("a", "b")
      .select(ParquetLayout.zValue(col("a"), col("b"), 16)).as[Long].collect().toSeq
    assert(viaCol == pairs.map { case (a, b) => zRef(a, b, 16) })
  }

  test("z-ordered layout skips row groups on EITHER dimension (executed metric)") {
    val tmp = scratchDir("zorder").toString
    // 256x256 grid, one row per cell; small row groups so statistics have
    // resolution at this size.
    val grid = spark.range(256L * 256L)
      .select((col("id") / 256).cast("long").as("x"),
        pmod(col("id"), lit(256L)).as("y"))
    val zPath = s"$tmp/z"
    val uPath = s"$tmp/u"
    ParquetLayout.writeZOrdered(
      grid.repartition(4), zPath, ParquetLayout.zValue(col("x"), col("y"), 8), 4)
    grid.repartition(4).write.mode("overwrite").parquet(uPath)
    def rows(path: String, pred: org.apache.spark.sql.Column): Long =
      Shim.scanOutputRows(spark.read.parquet(path).where(pred))
    val predX = col("x") >= 16 && col("x") < 32
    val predY = col("y") >= 16 && col("y") < 32
    // identical logical results either way
    assert(spark.read.parquet(zPath).where(predX).count() ==
      spark.read.parquet(uPath).where(predX).count())
    // the z layout must scan strictly fewer rows than the unordered one on
    // BOTH single-dimension predicates (row-group stats selective on each)
    val (zx, ux) = (rows(zPath, predX), rows(uPath, predX))
    val (zy, uy) = (rows(zPath, predY), rows(uPath, predY))
    info(s"scan rows x-pred: z=$zx unordered=$ux; y-pred: z=$zy unordered=$uy")
    assert(zx < ux && zy < uy)
  }

  private def bruteTriangles(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Double)] = {
    val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e => e._1 != e._2).distinct
    val set = und.toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).distinct
    val deg = nodes.map(v => v -> und.count(e => e._1 == v || e._2 == v).toLong).toMap
    val tris = for {
      (a, b) <- und; (c, d) <- und if c == b && d > b
      if set((a, d))
    } yield Seq(a, b, d)
    val perNode = tris.flatten.groupBy(identity).map { case (v, l) => v -> l.size.toLong }
    nodes.map { v =>
      val t = perNode.getOrElse(v, 0L)
      val d = deg(v)
      val cc = if (d < 2) 0.0 else math.rint(2.0 * t / (d * (d - 1)) * 1e6) / 1e6
      v -> ((d, t, cc))
    }.toMap
  }

  test("triangleStats: hand-built graph (K4 minus an edge)") {
    // nodes 1-2-3-4; edges: 12 13 14 23 24 (missing 34)
    // triangles: 123, 124 -> node1:2, node2:2, node3:1, node4:1
    val e = Seq((1L, 2L), (3L, 1L), (1L, 4L), (2L, 3L), (4L, 2L), (2L, 1L))
      .toDF("s", "d") // includes a duplicate (2,1) that must collapse
    val got = Graph.triangleStats(e, "s", "d")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      1L -> ((3L, 2L, 2.0 / 3 * 1e6 / 1e6)), 2L -> ((3L, 2L, 0.666667)),
      3L -> ((2L, 1L, 1.0)), 4L -> ((2L, 1L, 1.0))
    ).map { case (k, (d, t, c)) => k -> ((d, t, math.rint(c * 1e6) / 1e6)) })
  }

  test("triangleStats: randomized graph equals brute force") {
    val rnd = new scala.util.Random(13)
    val edges = Seq.fill(400)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2)
    val got = Graph.triangleStats(edges.toDF("s", "d"), "s", "d")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == bruteTriangles(edges))
  }
}

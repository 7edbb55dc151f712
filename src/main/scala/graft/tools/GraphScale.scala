package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Graph

/** Dev utility: measure q216's common-neighbors operator in exact-drop vs
  * Horvitz–Thompson `hubSample` mode on a given testdata dir — the
  * SCALING.md evidence that the degree cap bounds wedge work on a graph
  * that actually HAS over-cap hubs (the 10× replica densifies the
  * co-purchase graph ~10×, pushing hot parts past the cap). Prints a
  * degree census (so the row can state whether the cap binds) and
  * min-of-2 noop-forced walls per mode. Usage:
  *   sbt "runMain graft.tools.GraphScale <sfDir> [maxDegree] [hubSample] [uncapped]"
  */
object GraphScale {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("skew")) { skewDemo(args.drop(1)); return }
    if (args.headOption.contains("lp")) { lpDemo(args.drop(1)); return }
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val maxDeg = if (args.length > 1) args(1).toInt else 10000
    val hub = if (args.length > 2) args(2).toInt else 1000
    val runUncapped = args.length > 3 && args(3) == "uncapped"
    val spark = Tables.session("graft-graphscale")
    // q216's edge set, verbatim (Extensions.scala q216 lambda)
    val li = Tables.table(spark, sfDir, "lineitem")
      .filter(col("l_quantity") >= 30)
      .select(col("l_orderkey").as("k"), col("l_partkey").as("p"))
    val pairs = li.as("x").join(li.as("y"),
        col("x.k") === col("y.k") && col("x.p") < col("y.p"))
      .select(col("x.p").as("a"), col("y.p").as("b"))
    // degree census over the distinct undirected edge set (what the cap cuts)
    val e = pairs.select(least(col("a"), col("b")).as("a"),
      greatest(col("a"), col("b")).as("b")).distinct()
    val deg = e.select(col("a").as("n"))
      .unionAll(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val census = deg.agg(count(lit(1)).as("nodes"),
      max("deg").as("max_deg"),
      sum(when(col("deg") > maxDeg, 1L).otherwise(0L)).as("over_cap"),
      sum(col("deg") * col("deg")).as("sum_deg2")).head()
    println(s"[graphscale] dir=$sfDir nodes=${census.getLong(0)} " +
      s"max_deg=${census.getLong(1)} over_cap(maxDeg=$maxDeg)=" +
      s"${census.getLong(2)} sum_deg2=${census.getLong(3)}")
    def time(label: String)(mode: => DataFrame): Unit = {
      val walls = (1 to 2).map { _ =>
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        mode.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[graphscale] $label min2=${walls.min}%.2f s " +
        s"runs=${walls.map(w => f"$w%.2f").mkString(",")}")
    }
    time(s"exact(maxDegree=$maxDeg)")(Graph.commonNeighborPairs(
      pairs, minCommon = 2, topK = 100, maxDegree = maxDeg))
    time(s"hubSample(maxDegree=$maxDeg,s=$hub)")(Graph.commonNeighborPairs(
      pairs, minCommon = 2, topK = 100, maxDegree = maxDeg,
      hubSample = hub))
    if (runUncapped)
      time("uncapped(maxDegree=1<<20)")(Graph.commonNeighborPairs(
        pairs, minCommon = 2, topK = 100, maxDegree = 1 << 20))
    spark.stop()
  }

  /** The over-cap demonstration the natural co-purchase graph cannot
    * supply (its DISTINCT edge set is replica-invariant: ScaleUp shifts
    * orderkeys while partkeys stay, so every replica re-derives the same
    * edges — max degree 61 at every factor): a deterministic skewed graph
    * with `nHubs` hubs of degree `hubDeg` over a light background ring.
    * Uncapped wedge mass is nHubs·C(hubDeg,2) (quoted, not run — at
    * hubDeg 5·10⁴ that is 1.25·10⁹ wedges per hub, the unrunnable case
    * the cap exists for); drop mode does ZERO hub wedges; `hubSample` s
    * does nHubs·C(s,2) weighted ones. Usage:
    *   runMain graft.tools.GraphScale skew [hubDeg] [nHubs] [maxDeg] [s]
    */
  /** q245 evidence on a graph that actually GROWS (the trade-graph 10×
    * replica re-derives the same distinct edge set, so the gate reads
    * flat): ring-of-communities — blocks of 100 nodes chained (i→i+1,
    * i→i+2) with one bridge per block, deg ≈ 6 — timed at N and 10N
    * nodes. Per-round LP cost is O(E) shuffle of (dst, label) counts;
    * the demo prints the measured growth. Usage:
    *   sbt "runMain graft.tools.GraphScale lp [nNodes] [rounds]"
    */
  private def lpDemo(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val rounds = if (args.length > 1) args(1).toInt else 2
    val spark = Tables.session("graft-lpscale")
    def edgesFor(m: Long): DataFrame = {
      val ids = spark.range(m).toDF("i")
      val e1 = ids.filter(col("i") % 100 =!= 99)
        .select(col("i").as("src"), (col("i") + 1).as("dst"))
      val e2 = ids.filter(col("i") % 100 < 98)
        .select(col("i").as("src"), (col("i") + 2).as("dst"))
      val bridge = ids.filter(col("i") % 100 === 99)
        .select(col("i").as("src"), ((col("i") + 1) % m).as("dst"))
      val und = e1.unionAll(e2).unionAll(bridge)
      und.unionAll(und.select(col("dst").as("src"), col("src").as("dst")))
    }
    for (m <- Seq(n.toLong, n.toLong * 10)) {
      val walls = (1 to 2).map { _ =>
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        Graph.labelPropagation(edgesFor(m), rounds = rounds)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[lpscale] n=$m rounds=$rounds min2=${walls.min}%.2f s " +
        s"runs=${walls.map(w => f"$w%.2f").mkString(",")}")
    }
    // converge mode on q259's bridged-triangle motif graph: every motif
    // settles at round 3 and the zero-change transition is observed at
    // round 4, INDEPENDENT of motif count — so rounds-to-settle is a
    // construction constant and the walls below isolate the per-round
    // action floor (plan+codegen+job submit) from data growth
    def motifEdges(nMotifs: Long): DataFrame = {
      val motif = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L),
        (3L, 5L), (2L, 3L))
      val und = spark.range(nMotifs).select((col("id") * 6).as("base"))
        .select(col("base"), explode(array(motif.map { case (x, y) =>
          struct(lit(x).as("da"), lit(y).as("db")) }: _*)).as("e"))
        .select((col("base") + col("e.da")).as("a"),
          (col("base") + col("e.db")).as("b"))
      und.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
    }
    for (m <- Seq(15000L, 150000L)) {
      val walls = (1 to 2).map { _ =>
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        Graph.labelPropagation(motifEdges(m), rounds = 10, converge = true,
          assumeTotal = true)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[lpscale] converge motifs=$m settle=3 detect=4 " +
        f"min2=${walls.min}%.2f s " +
        s"runs=${walls.map(w => f"$w%.2f").mkString(",")}")
    }
  }

  private def skewDemo(args: Array[String]): Unit = {
    val hubDeg = args.headOption.map(_.toInt).getOrElse(50000)
    val nHubs = if (args.length > 1) args(1).toInt else 2
    val maxDeg = if (args.length > 2) args(2).toInt else 10000
    val s = if (args.length > 3) args(3).toInt else 1000
    val spark = Tables.session("graft-graphscale-skew")
    import spark.implicits._
    val base = 1000000L
    // hubs 1..nHubs each touch a DISJOINT neighbor block (hub wedges only);
    // background: ring i -> i+1..i+3 over 100k nodes (deg ~6, wedge-light)
    val hubs = spark.range(nHubs.toLong * hubDeg).select(
      (col("id") / hubDeg + 1).cast("long").as("a"),
      (col("id") + base).as("b"))
    val bg = spark.range(100000).flatMap { i =>
      (1L to 3L).map(d => (base * 2 + i, base * 2 + i + d))
    }.toDF("a", "b")
    val edges = hubs.unionByName(bg)
    val trueHubMass = nHubs.toLong * hubDeg.toLong * (hubDeg - 1) / 2
    println(s"[graphscale] skew hubDeg=$hubDeg nHubs=$nHubs " +
      s"uncappedHubWedges=$trueHubMass (not run) " +
      s"dropHubWedges=0 hubSampleWedges=${nHubs.toLong * s * (s - 1) / 2}")
    def time(label: String)(mode: => DataFrame): Unit = {
      val walls = (1 to 2).map { _ =>
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        mode.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[graphscale] $label min2=${walls.min}%.2f s " +
        s"runs=${walls.map(w => f"$w%.2f").mkString(",")}")
    }
    time(s"drop(maxDegree=$maxDeg)")(Graph.commonNeighborPairs(
      edges, minCommon = 2, topK = 100, maxDegree = maxDeg))
    time(s"hubSample(maxDegree=$maxDeg,s=$s)")(Graph.commonNeighborPairs(
      edges, minCommon = 2, topK = 100, maxDegree = maxDeg, hubSample = s))
    spark.stop()
  }
}

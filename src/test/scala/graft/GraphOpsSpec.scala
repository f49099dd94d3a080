package graft

import graft.ops._
import org.apache.spark.sql.functions.col

class GraphOpsSpec extends GraftSuite {
  import spark.implicits._

  test("node merge: merged node count = customers; overlap = distinct users") {
    val rows = GraphOps.nodeMerge(spark, sf).collect()
    assert(rows.length == 150) // every user_id collides with a custkey
    val merged = rows.filter(_.getAs[Long]("n_srcs") == 2L)
    assert(merged.length == 15) // 15 distinct users at sf0.001
    merged.foreach { r =>
      assert(r.getAs[String]("cats") == "customer,user")
    }
  }

  test("triangles: planted co-membership graph counts exactly") {
    // orders: {10,11,12}, {10,11}, {10,13} -> edges (10,11),(10,12),
    // (11,12),(10,13); degrees 3/2/2/1 -> wedges C(3,2)+1+1 = 5;
    // one triangle (10,11,12); cc = 3*1/5 = 0.6
    val m = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 10L), (2L, 11L), (3L, 10L), (3L, 13L)).toDF("o", "p")
    val r = GraphOps.trianglesOn(m).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_edges") == 4L)
    assert(r.head.getAs[Long]("n_triangles") == 1L)
    assert(r.head.getAs[Long]("n_wedges") == 5L)
    assert(r.head.getAs[Double]("global_cc") == 0.6)
  }

  test("triangles: a hub star has zero triangles, wedges = C(deg,2)") {
    // one order containing parts {1..5} joined pairwise... a pure STAR
    // instead: hub 1 co-occurs with each leaf in its own order
    val m = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 3L),
      (3L, 1L), (3L, 4L)).toDF("o", "p")
    val r = GraphOps.trianglesOn(m).collect().head
    assert(r.getAs[Long]("n_edges") == 3L)
    assert(r.getAs[Long]("n_triangles") == 0L)
    assert(r.getAs[Long]("n_wedges") == 3L) // hub deg 3 -> C(3,2)
  }

  test("edge merge: multiplicities sum back to lineitem count") {
    import org.apache.spark.sql.functions.sum
    val total = GraphOps.edgeMerge(spark, sf)
      .agg(sum("n")).first().getLong(0)
    assert(total == 6000L)
  }

  test("norm remap: unmapped ids are retained as RAW, none dropped") {
    import org.apache.spark.sql.functions.sum
    val rows = GraphOps.normRemap(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n")).sum == 150L)
    assert(rows.exists(_.getString(0).startsWith("RAW:")))
    assert(rows.exists(_.getString(0).startsWith("NATION:")))
  }

  test("edge normalization: retained/dropped/logged sets on a fixture") {
    // subjectIds {1,3}; objectIds {10,12,13}; predicate map A,R
    val edges = Seq(
      (1L, "A", 10L),  // both ok            -> retained, biolink:affects
      (2L, "R", 10L),  // subject missing    -> dropped_subject
      (3L, "X", 99L),  // object missing     -> dropped_object, raw:x
      (5L, "R", 98L)   // both missing       -> dropped_both
    ).toDF("subject", "predicate", "object")
    val subj = Seq(1L, 3L).toDF("id")
    val obj = Seq(10L, 12L, 13L).toDF("id")
    val pm = Seq(("A", "biolink:affects"), ("R", "biolink:related_to"))
      .toDF("raw", "pred")
    val (retained, dropped) =
      GraphOps.normalizeEdgesSplit(edges, subj, obj, pm)
    val r = retained.collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("subject") == 1L)
    assert(r.head.getAs[String]("predicate") == "biolink:affects")
    val d = dropped.collect()
      .map(x => x.getAs[Long]("subject") -> x.getAs[String]("status")).toMap
    assert(d == Map(2L -> "dropped_subject", 3L -> "dropped_object",
      5L -> "dropped_both"))
    // unmapped predicate retained with raw: prefix, not dropped
    val px = dropped.filter(col("subject") === 3L)
      .select("predicate").first().getString(0)
    assert(px == "raw:x")
  }

  test("connected components on a hand-built graph") {
    // Two components: {1,2,3} via edges 1-2, 2-3; {10,11} via 10-11.
    // A long path (20-21-...-27) exercises multi-round convergence.
    val edges = (Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++
      (20L until 27L).map(i => (i, i + 1))).toDF("a", "b")
    val labels = GraphOps.ccLabels(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 13)
    assert(Seq(1L, 2L, 3L).forall(labels(_) == 1L))
    assert(Seq(10L, 11L).forall(labels(_) == 10L))
    assert((20L to 27L).forall(labels(_) == 20L))
  }

  test("ccLabels matches the independent GraphX implementation") {
    val offset = 1L << 31
    val edges = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"),
        (col("l_partkey") + offset).as("part"))
    val df = GraphOps.ccLabels(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gx = GraphOps.ccLabelsGraphX(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(df.keySet == gx.keySet)
    // same partition of nodes into components (label choice may differ:
    // GraphX also picks the min id, but don't depend on it — compare
    // co-membership via canonical label-of-label maps)
    val dfGroups = df.groupBy(_._2).values.map(_.keys.toSet).toSet
    val gxGroups = gx.groupBy(_._2).values.map(_.keys.toSet).toSet
    assert(dfGroups == gxGroups)
  }

  test("ccLabels distributed star rounds (forced) match GraphX and the local endgame") {
    // push the endgame threshold to 0 so the large-star/small-star
    // rounds — the 100 TB path — run end-to-end instead of the
    // single-task union-find
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
    try {
      val edges = (Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++
        (20L until 27L).map(i => (i, i + 1))).toDF("a", "b")
      val labels = GraphOps.ccLabels(edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels.size == 13)
      assert(Seq(1L, 2L, 3L).forall(labels(_) == 1L))
      assert(Seq(10L, 11L).forall(labels(_) == 10L))
      assert((20L to 27L).forall(labels(_) == 20L))
      // real-data cross-check through the distributed path
      val offset = 1L << 31
      val li = Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), (col("l_partkey") + offset).as("part"))
      val df = GraphOps.ccLabels(li).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gx = GraphOps.ccLabelsGraphX(li).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(df.keySet == gx.keySet)
      assert(df.groupBy(_._2).values.map(_.keys.toSet).toSet ==
        gx.groupBy(_._2).values.map(_.keys.toSet).toSet)
    } finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
  }

  test("superseded cc checkpoints are freed; only the live round survives") {
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
    try {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.size
      val edges = (20L until 27L).map(i => (i, i + 1)).toDF("a", "b")
      val labels = GraphOps.ccLabels(edges)
      labels.count()
      // multi-round convergence, but at most ONE checkpoint (the final
      // round backing the result) may remain persisted
      assert(sc.getPersistentRDDs.size <= before + 1)
      GraphOps.unpersistCheckpoint(labels)
      assert(sc.getPersistentRDDs.size <= before)
    } finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
  }

  test("ccLabels throws loudly when the round cap is hit before convergence") {
    // 300-node path: needs several star double-rounds; cap at 1 round
    // with the union-find endgame disabled, so the guard MUST trip —
    // falling through silently would return wrong half-contracted labels
    val edges = (0L until 299L).map(i => (i, i + 1)).toDF("a", "b")
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
    spark.conf.set("spark.graft.cc.maxRounds", "1")
    try {
      val ex = intercept[IllegalStateException] { GraphOps.ccLabels(edges) }
      assert(ex.getMessage.contains("did not converge"))
      assert(ex.getMessage.contains("spark.graft.cc.maxRounds"))
    } finally {
      spark.conf.unset("spark.graft.cc.localEdgeThreshold")
      spark.conf.unset("spark.graft.cc.maxRounds")
    }
    // and the same graph converges fine with the default cap
    assert(GraphOps.ccLabels(edges).collect()
      .forall(_.getLong(1) == 0L), "path graph is one component rooted at 0")
  }

  test("malformed cc conf values name the conf key, not a bare parse error") {
    val edges = Seq((1L, 2L)).toDF("a", "b")
    spark.conf.set("spark.graft.cc.maxRounds", "twenty")
    try {
      val ex = intercept[IllegalArgumentException] { GraphOps.ccLabels(edges) }
      assert(ex.getMessage.contains("spark.graft.cc.maxRounds"))
      assert(ex.getMessage.contains("twenty"))
    } finally spark.conf.unset("spark.graft.cc.maxRounds")
    // same longConf guard covers the threshold key
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "4e6")
    try {
      val ex = intercept[IllegalArgumentException] { GraphOps.ccLabels(edges) }
      assert(ex.getMessage.contains("spark.graft.cc.localEdgeThreshold"))
      assert(ex.getMessage.contains("4e6"))
    } finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
  }

  test("cc size histogram sums to the vertex count") {
    import org.apache.spark.sql.functions.{col, sum}
    val hist = GraphOps.connectedComponents(spark, sf)
    val nodesInHist = hist.select(sum(col("size") * col("n_components")))
      .first().getLong(0)
    val vertices = Tables.lineitem(spark, sf).select("l_orderkey").distinct().count() +
      Tables.lineitem(spark, sf).select("l_partkey").distinct().count()
    assert(nodesInHist == vertices)
  }

  test("kgx sink writes valid JSON lines and counts per category") {
    val counts = Sources.sinkKgx(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_nodes")).toMap
    assert(counts("customer") == 150L)
    assert(counts("part") == 200L)
    assert(counts("biolink:Agent") == 150L)
    val nodesDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_kgx_nodes_" + sf.replaceAll("[^a-zA-Z0-9]", "_"))
    val first = java.nio.file.Files.list(nodesDir).toArray
      .map(_.toString).filter(_.endsWith(".txt"))
    assert(first.nonEmpty, "kgx node files written")
  }

  test("csv, jsonl, orc and xml roundtrips agree with each other") {
    val a = Sources.sourceCsv(spark, sf).collect().map(_.toString).toSeq
    val b = Sources.sourceJsonl(spark, sf).collect().map(_.toString).toSeq
    val c = Sources.sourceOrc(spark, sf).collect().map(_.toString).toSeq
    val x = Sources.sourceXml(spark, sf).collect().map(_.toString).toSeq
    assert(a == b && b == c && c == x && a.nonEmpty)
  }

  test("label propagation splits two planted cliques joined by one bridge") {
    import spark.implicits._
    // two 4-cliques as order-memberships (one order = one clique) plus
    // a bridge order containing one node of each; LPA must keep the
    // cliques as separate communities — cc would fuse them
    val membership = (Seq.tabulate(4)(i => (1L, 10L + i)) ++
      Seq.tabulate(4)(i => (2L, 20L + i)) ++
      Seq((3L, 10L), (3L, 20L))).toDF("o", "p")
    val hist = GraphOps.labelPropOn(membership).collect()
      .map(r => (r.getAs[Long]("size"), r.getAs[Long]("n_communities")))
    assert(hist.toSeq == Seq((4L, 2L)))
  }

  test("louvain: two planted cliques recovered exactly, modularity " +
      "improves over the singleton start") {
    import spark.implicits._
    // two 4-cliques (one order each) joined by one bridge order; the
    // move pass must merge each clique into one community: m = 13,
    // 2m = 26, intra = 24/26, deg_A = deg_B = 13 ->
    // Q = 24/26 - 2*169/676 = 0.423077, vs q_start = -sum(dg^2)/4m^2
    val membership = (Seq.tabulate(4)(i => (1L, 10L + i)) ++
      Seq.tabulate(4)(i => (2L, 20L + i)) ++
      Seq((3L, 10L), (3L, 20L))).toDF("o", "p")
    val r = GraphOps.louvainOn(membership).collect()
    ScratchCache.releaseAll()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_nodes") == 8L)
    assert(row.getAs[Long]("n_edges") == 13L)
    assert(row.getAs[Long]("n_communities") == 2L, row.toString)
    assert(row.getAs[Double]("q_louvain") == 0.423077, row.toString)
    assert(row.getAs[Double]("q_louvain") > row.getAs[Double]("q_start"))
  }

  test("louvain: q_louvain >= q_start on the real co-purchase graph") {
    val row = GraphOps.louvain(spark, sf).collect().head
    ScratchCache.releaseAll()
    assert(row.getAs[Double]("q_louvain") >= row.getAs[Double]("q_start"),
      row.toString)
    assert(row.getAs[Long]("n_communities") <= row.getAs[Long]("n_nodes"))
    assert(row.getAs[Long]("n_moved") > 0L, row.toString)
  }

  test("louvain2: level-2 collapse merges the planted super-clusters " +
      "and strictly improves modularity, partition-invariant") {
    import spark.implicits._
    // RING OF 16 TRIANGLES — the textbook resolution-limit graph where
    // multi-level Louvain is REQUIRED: a triangle is node-stable at
    // level 1 (a bridge node staying scores m2*2 - 3*(8-3) = 241 over
    // moving's m2*1 - 3*8 = 104), but on the quotient a whole triangle
    // moving to its ring neighbor gains m2*w_AB - K_A*K_B =
    // 128*1 - 8*8 = 64 > 0 — so level 2 must coarsen beyond the 16
    // triangles and Q must STRICTLY improve.
    def clique(o: Long, base: Long) =
      Seq.tabulate(3)(i => (o, base + 4 * i))
    val membership = ((0 until 16).flatMap(t => clique(t + 1, 12L * t)) ++
      (0 until 16).map(t =>
        (100L + t, if (t == 15) 0L else 12L * (t + 1))) ++
      (0 until 16).map(t => (100L + t, 12L * t + 8L)))
      .toDF("o", "p")
    val r = GraphOps.louvain2On(membership).collect()
    ScratchCache.releaseAll()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_nodes") == 48L, row.toString)
    assert(row.getAs[Long]("n_edges") == 64L, row.toString)
    assert(row.getAs[Long]("n_communities") <
      row.getAs[Long]("n_super"), row.toString)
    assert(row.getAs[Long]("n_moved2") > 0L, row.toString)
    assert(row.getAs[Double]("q_level2") > row.getAs[Double]("q_level1"),
      row.toString)
    val r2 = GraphOps.louvain2On(membership.repartition(7)).collect()
    ScratchCache.releaseAll()
    assert(r.head.toString == r2.head.toString,
      s"louvain2 not partition-invariant: ${r.head} vs ${r2.head}")
  }

  test("louvain2: q_level1 equals q_graph_louvain's score and the " +
      "coarsening never loses modularity on the real graph") {
    val l1 = GraphOps.louvain(spark, sf).collect().head
    ScratchCache.releaseAll()
    val row = GraphOps.louvain2(spark, sf).collect().head
    ScratchCache.releaseAll()
    // level 1 inside louvain2 is the q_graph_louvain pass verbatim
    assert(row.getAs[Double]("q_level1") ==
      l1.getAs[Double]("q_louvain"), s"$row vs $l1")
    assert(row.getAs[Long]("n_super") ==
      l1.getAs[Long]("n_communities"), s"$row vs $l1")
    assert(row.getAs[Double]("q_level2") >=
      row.getAs[Double]("q_level1"), row.toString)
    assert(row.getAs[Long]("n_communities") <=
      row.getAs[Long]("n_super"), row.toString)
  }

  test("assortativity: star graph is perfectly disassortative, " +
      "degenerate equal-degree graph emits NULL") {
    import spark.implicits._
    // star: hub 100 to leaves 1,2,3 -> (du,dv) pairs are (3,1)x3 and
    // (1,3)x3 -> Pearson r = -1
    val star = Seq((1L, 100L), (1L, 1L), (2L, 100L), (2L, 2L),
      (3L, 100L), (3L, 3L)).toDF("o", "p")
    val r = GraphOps.assortativityOn(star).collect()
    ScratchCache.releaseAll()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_nodes") == 4L)
    assert(r.head.getAs[Long]("n_edges") == 3L)
    assert(r.head.getAs[Double]("assortativity") == -1.0, r.head.toString)
    // single edge: both endpoints degree 1 -> zero variance -> NULL
    val edge = Seq((1L, 10L), (1L, 20L)).toDF("o", "p")
    val e = GraphOps.assortativityOn(edge).collect()
    ScratchCache.releaseAll()
    assert(e.head.isNullAt(e.head.fieldIndex("assortativity")))
  }

  test("modularity: hand-computed two-triangle bridge graph") {
    import spark.implicits._
    // triangles {1,2,3} and {11,12,13} joined by bridge 3-11: LPA
    // labels A={1,2,3}, B={11,12,13} (worked through the 4 rounds by
    // hand); m=7, directed intra=12/14, deg_A=deg_B=7 ->
    // Q = 12/14 - 2*49/196 = 0.357143
    val membership = (Seq((1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 11L), (2L, 12L), (2L, 13L),
      (3L, 3L), (3L, 11L))).toDF("o", "p")
    val r = GraphOps.modularityOn(membership).collect()
    ScratchCache.releaseAll()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_nodes") == 6L)
    assert(row.getAs[Long]("n_edges") == 7L)
    assert(row.getAs[Long]("n_communities") == 2L)
    assert(row.getAs[Double]("intra_share") == 0.857143, row.toString)
    assert(row.getAs[Double]("modularity") == 0.357143, row.toString)
  }

  test("label propagation histogram sums to the vertex count") {
    import org.apache.spark.sql.functions._
    val hist = GraphOps.labelProp(spark, sf)
    val total = hist.agg(sum(col("size") * col("n_communities"))).head.getLong(0)
    // LPA labels exactly the nodes with >=1 neighbor: parts sharing an
    // order with another sliced part — recompute that set independently
    val op = Tables.lineitem(spark, sf)
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val paired = op.withColumn("gsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("o"))))
      .filter(col("gsz") >= 2).select(col("p")).distinct().count()
    assert(total == paired)
  }

  /** Plain-Scala PageRank (damping 0.85, uniform dangling
    * redistribution, duplicate edges counted per copy) in double
    * precision, as rank×n per node. */
  private def driverPageRank(es: Seq[(Long, Long)], iters: Int)
      : Map[Long, Double] = {
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size
    val out = es.groupBy(_._1).view.mapValues(_.size).toMap
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filter(!out.contains(_)).map(r).sum
      val in = es.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / out(s) }.sum).toMap
      r = nodes.map(v =>
        v -> (0.15 / n + 0.85 * (in.getOrElse(v, 0.0) + dang / n))).toMap
    }
    r.view.mapValues(_ * n).toMap
  }

  private def pageRankSorted(edges: org.apache.spark.sql.DataFrame,
      iters: Int): Seq[String] = {
    val rows = GraphOps.pageRankOn(edges, iters)
      .orderBy("ntype", "node").collect().map(_.toString).toSeq
    ScratchCache.releaseAll()
    rows
  }

  test("pagerank matches an independent driver-side reference") {
    // 0→2, 0→4, 2→4, 4→0, plus 6 (dangling sink of 0): hand-sized
    // graph with a cycle AND a dangling node so redistribution matters
    val base = Seq((0L, 2L), (0L, 4L), (2L, 4L), (4L, 0L), (0L, 6L))
    val graphs = Seq(
      "cycle + dangling sink" -> base,
      // a repeated edge doubles its weight in 0's out-degree and in 2's
      // in-sum; 2→2 feeds 2's own rank back to it
      "duplicates + self-loop" -> (base ++ Seq((0L, 2L), (2L, 2L))),
      // every leaf is dangling: most of the mass moves by redistribution
      "all-dangling star" -> Seq((10L, 11L), (10L, 13L), (10L, 15L),
        (10L, 17L), (10L, 19L)))
    for ((name, es) <- graphs; iters <- Seq(1, 10)) {
      val ref = driverPageRank(es, iters)
      val got = GraphOps.pageRankOn(es.toDF("src", "dst"), iters).collect()
        .map(x => (x.getString(0), x.getAs[Long]("node")) ->
          x.getAs[Double]("rank_x_n")).toMap
      ScratchCache.releaseAll()
      assert(got.size == ref.size, s"$name: node count")
      ref.foreach { case (v, want) =>
        val key = (if (v % 2 == 0) "order" else "part", v / 2)
        assert(math.abs(got(key) - want) < 1e-5,
          s"$name, $iters rounds, node $v: got ${got(key)}, reference $want")
      }
      // mass conservation: ranks sum to 1 (rank_x_n averages to 1, up
      // to its rounding to 6 places)
      assert(math.abs(got.values.sum / ref.size - 1.0) <= 5e-7, name)
      if (es == base && iters == 10)
        assert(math.abs(got.values.sum / ref.size - 1.0) < 1e-9)
    }
  }

  test("pagerank is partition-order independent (exact decimal sums)") {
    // the kernel's partitioner width is the session's shuffle partition
    // count: 1 puts every node in one partition, 7 splits the graph;
    // repartition(13) reorders the input rows
    val es = (0L until 60L).map(i => (i % 11, (i * 5) % 13 + 3)) ++
      Seq((3L, 3L), (3L, 3L), (20L, 40L))
    val runs = for (p <- Seq(1, 7); layout <- Seq(false, true)) yield {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", p.toString)
      val df = s.createDataFrame(es).toDF("src", "dst")
      pageRankSorted(if (layout) df.repartition(13) else df, iters = 5)
    }
    assert(runs.head.nonEmpty)
    runs.tail.foreach(r => assert(r == runs.head))
  }

  test("pagerank of an empty edge frame is empty") {
    val out = GraphOps.pageRankOn(Seq.empty[(Long, Long)].toDF("src", "dst"),
      iters = 5)
    assert(out.columns.toSeq == Seq("ntype", "node", "rank_x_n"))
    assert(out.collect().isEmpty)
    ScratchCache.releaseAll()
  }

  test("pagerank's persisted RDDs are all freed by ScratchCache.releaseAll") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def ours = sc.getPersistentRDDs.filter { case (id, rdd) =>
      !before(id) && Option(rdd.name).exists(_.startsWith("pageRank."))
    }
    val es = (0L until 40L).map(i => (i % 8, (i * 7) % 9 + 8))
    val out = GraphOps.pageRankOn(es.toDF("src", "dst"), iters = 5)
    val first = out.collect().map(_.toString).sorted.toSeq
    // the graph and the last held round are persisted until release
    assert(ours.size == 2, ours.values.map(_.name))
    ScratchCache.releaseAll()
    assert(ours.isEmpty, ours.values.map(_.name))
    // lineage is intact: the released result still recomputes
    assert(out.collect().map(_.toString).sorted.toSeq == first)
  }

  test("jaccard scores planted co-purchase overlaps exactly") {
    import spark.implicits._
    // orders: {1,2} both contain A,B; {3} contains A,C
    // deg A=3, B=2, C=1; J(A,B)=2/(3+2-2)=2/3; J(A,C)=1/(3+1-1)=1/3
    val m = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 30L)).toDF("o", "p")
    val out = GraphOps.jaccardOn(m).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_common"), r.getAs[Double]("jaccard"))).toMap
    ScratchCache.releaseAll()
    assert(out((10L, 20L)) == ((2L, 0.666667)))
    assert(out((10L, 30L)) == ((1L, 0.333333)))
    assert(out.size == 2)
  }

  test("kcore peels low-degree fringe and keeps isolated-keep semantics") {
    import spark.implicits._
    // clique {1,2,3,4} (deg 3 each) + pendant 5 hanging off node 1
    // (deg 1). |E_sym| = 14, |V| = 5 -> k = 42 div 20 = 2.
    // round 1: {1,2,3,4} qualify (deg>=2), 5 drops; rounds 2-4 stable.
    // membership orders: one per edge
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L))
    val m = edges.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((i.toLong, a), (i.toLong, b)) }.toDF("o", "p")
    val out = GraphOps.kcoreOn(m).collect()
      .map(r => r.getAs[Long]("round") ->
        (r.getAs[Long]("n_nodes"), r.getAs[Long]("k"))).toMap
    ScratchCache.releaseAll()
    assert(out == Map(1L -> ((4L, 2L)), 2L -> ((4L, 2L)),
      3L -> ((4L, 2L)), 4L -> ((4L, 2L))))
  }

  test("paths reports min-hop BFS counts on a planted chain") {
    import spark.implicits._
    // chain 1-2-3-4-5 via pair-orders; BFS from min node 1, depth<=3:
    // hop 0:{1} 1:{2} 2:{3} 3:{4}; node 5 is beyond the bound.
    // order 5 re-links 1-2 (a cycle back) — min-hop must not double
    val m = Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 3L),
      (3L, 4L), (4L, 4L), (4L, 5L), (5L, 1L), (5L, 2L)).toDF("o", "p")
    val out = GraphOps.pathsOn(m).collect()
      .map(r => r.getAs[Long]("hop") -> r.getAs[Long]("n_nodes")).toMap
    ScratchCache.releaseAll()
    assert(out == Map(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("sssp: min-plus relaxation finds the cheap 2-hop route past the " +
      "expensive direct edge; unreachable components stay out") {
    import spark.implicits._
    // planted triangle {1, 2, 12} (orders A/B/C give all three edges)
    // with weights w(u,v) = 1 + (u+v)%7:
    //   w(1,2)=4, w(2,12)=1, w(1,12)=7
    // from src=1: dist(2)=4 and dist(12)=5 VIA 2 — the direct edge
    // costs 7, so hop-count BFS semantics would get this wrong.
    // order D plants an unreachable pair {100, 104} that must not
    // appear in the reached-node histogram.
    val m = Seq((1L, 1L), (1L, 12L), (2L, 1L), (2L, 2L),
      (3L, 2L), (3L, 12L), (4L, 100L), (4L, 104L)).toDF("o", "p")
    val out = GraphOps.ssspOn(m).collect()
      .map(r => r.getAs[Long]("dist") -> r.getAs[Long]("n_nodes")).toMap
    ScratchCache.releaseAll()
    assert(out == Map(0L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("closeness: landmark harmonic scores on a planted chain are " +
      "exact integers and rank the center first") {
    import spark.implicits._
    // chain 1-2-3-4-5; landmarks = {1, 2} (the 2 smallest), maxHop=3.
    // d(1,·): 2→1 3→2 4→3 (5 unreached); d(2,·): 1→1 3→1 4→2 5→3.
    // harmonic6 (6 div d, d>0): n1=6, n2=6, n3=3+6=9, n4=2+3=5, n5=2
    val m = Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 3L),
      (3L, 4L), (4L, 4L), (4L, 5L)).toDF("o", "p")
    val out = GraphOps.closenessOn(m, nLandmarks = 2, maxHop = 3)
      .collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("harmonic6"),
        r.getAs[Long]("n_landmarks")))
    ScratchCache.releaseAll()
    assert(out.toSeq == Seq((3L, 9L, 2L), (1L, 6L, 1L), (2L, 6L, 1L),
      (4L, 5L, 2L), (5L, 2L, 1L)))
  }

  test("betweenness: landmark-pair coverage counts both diamond middles " +
      "and nothing else") {
    import spark.implicits._
    // diamond 1-3-2 / 1-4-2 plus a 2-5 tail; landmarks = {1, 2}:
    // d(1,2)=2, so BOTH middles 3 and 4 satisfy d(1,v)+d(v,2)=2;
    // the tail node 5 has d(1,5)+d(5,2)=3+1=4 and must not appear.
    val m = Seq((1L, 1L), (1L, 3L), (2L, 2L), (2L, 3L), (3L, 1L),
      (3L, 4L), (4L, 2L), (4L, 4L), (5L, 2L), (5L, 5L)).toDF("o", "p")
    val out = GraphOps.betweennessOn(m, nLandmarks = 2, maxHop = 3)
      .collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("n_pairs")))
    ScratchCache.releaseAll()
    assert(out.toSeq == Seq((3L, 1L), (4L, 1L)))
  }

  test("ecc: hand-computed bounds on a truncated path graph, " +
      "partition-invariant") {
    import spark.implicits._
    // path 0-4-8-12-16 with maxHop 3: d(0,16)=4 is BEYOND the bound so
    // the (0,16) pair drops out of every statistic. Hand-computed:
    //   ecc_lb: node 8 -> 2; nodes 0,4,12,16 -> 3   (hist {2:1, 3:4})
    //   diameter_lb = 3, attained by pairs (0,12) and (4,16) -> n=2
    //   radius_ub = 2, attained by landmark 8 alone -> n=1
    val m = Seq((1L, 0L), (1L, 4L), (2L, 4L), (2L, 8L),
      (3L, 8L), (3L, 12L), (4L, 12L), (4L, 16L)).toDF("o", "p")
    val out = GraphOps.eccentricityOn(m, nLandmarks = 8, maxHop = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    ScratchCache.releaseAll()
    assert(out.toSeq == Seq(
      ("diameter_lb", 3L, 2L),
      ("ecc_nodes", 2L, 1L), ("ecc_nodes", 3L, 4L),
      ("radius_ub", 2L, 1L)), out.toSeq.toString)
    val out2 = GraphOps.eccentricityOn(m.repartition(5),
        nLandmarks = 8, maxHop = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    ScratchCache.releaseAll()
    assert(out.toSeq == out2.toSeq)
  }

  test("landmark and co-purchase graph operators leave no persisted " +
      "RDD after ScratchCache.releaseAll") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def ours = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    val path = Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 3L),
      (3L, 4L), (4L, 4L), (4L, 5L), (5L, 5L), (5L, 6L)).toDF("o", "p")
    val chain = Seq((1L, 0L), (1L, 4L), (2L, 4L), (2L, 8L), (3L, 8L),
      (3L, 12L), (4L, 12L), (4L, 16L), (5L, 16L), (5L, 20L))
      .toDF("o", "p")
    Seq(GraphOps.closenessOn(path, nLandmarks = 8, maxHop = 3),
        GraphOps.betweennessOn(path, nLandmarks = 8, maxHop = 3),
        GraphOps.betweennessBrandesOn(path, nLandmarks = 8, maxHop = 3),
        GraphOps.eccentricityOn(path, nLandmarks = 8, maxHop = 3),
        GraphOps.labelPropOn(chain), GraphOps.modularityOn(chain),
        GraphOps.louvainOn(chain), GraphOps.louvain2On(chain))
      .foreach(df => assert(df.collect().nonEmpty))
    assert(ours.nonEmpty, "the operators persisted no scratch at all")
    ScratchCache.releaseAll()
    assert(ours.isEmpty, ours.values.map(r => s"${r.id} ${r.name}"))
  }

  test("ecc: when truncation bites, the radius stat drops its " +
      "upper-bound claim") {
    import spark.implicits._
    // 9-node path 0-4-8-...-32 at maxHop 3: true radius = 4 (node 16),
    // but EVERY landmark's bounded eccentricity is 3 = maxHop — the
    // BFS was truncated, so min bounded ecc (3) is NOT a radius upper
    // bound. The stat must be emitted as 'radius_bounded', never
    // 'radius_ub' (ADVICE r14).
    val m = (0 until 8).flatMap(i =>
      Seq((i + 1L, 4L * i), (i + 1L, 4L * (i + 1)))).toDF("o", "p")
    val out = GraphOps.eccentricityOn(m, nLandmarks = 8, maxHop = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    ScratchCache.releaseAll()
    val rad = out.filter(_._1.startsWith("radius"))
    assert(rad.toSeq == Seq(("radius_bounded", 3L, 8L)), out.toSeq.toString)
  }

  test("betweenness brandes: hand-computed sigma fractions on the " +
      "diamond-with-tail graph, partition-invariant") {
    import spark.implicits._
    // 4-cycle 0-4-12-8-0 plus tail 12-16; all 5 nodes are landmarks.
    // sigma(0,12) = 2 (via 4, via 8); sigma(0,16) = 2 (both continue
    // through 12). Hand-computed floor-micro-unit ledger:
    //   node 12: pairs (0,16) 2*1/2=1e6, (4,16) 1e6, (8,16) 1e6,
    //            (4,8) 1*1/2=5e5               -> 3_500_000
    //   node 4:  (0,12) 1*1/2=5e5, (0,16) 1*1/2=5e5 -> 1_000_000
    //   node 8:  symmetric to 4                 -> 1_000_000
    //   node 0:  (4,8) 1*1/2=5e5                ->   500_000
    //   node 16: on no pair's shortest path     -> absent
    val m = Seq((1L, 0L), (1L, 4L), (2L, 4L), (2L, 12L),
      (3L, 0L), (3L, 8L), (4L, 8L), (4L, 12L),
      (5L, 12L), (5L, 16L)).toDF("o", "p")
    val out = GraphOps.betweennessBrandesOn(m, nLandmarks = 8, maxHop = 3)
      .collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("bc_micro")))
    ScratchCache.releaseAll()
    assert(out.toSeq == Seq((12L, 3500000L), (4L, 1000000L),
      (8L, 1000000L), (0L, 500000L)), out.toSeq.toString)
    val out2 = GraphOps.betweennessBrandesOn(m.repartition(7),
        nLandmarks = 8, maxHop = 3).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("bc_micro")))
    ScratchCache.releaseAll()
    assert(out.toSeq == out2.toSeq,
      s"brandes not partition-invariant: ${out.toSeq} vs ${out2.toSeq}")
  }

  test("metakg: multi-prefix categories collected, duplicate edges " +
      "collapse to one pattern count, partition-invariant") {
    import spark.implicits._
    // category 'gene' spans TWO id spaces (NCBI + ENSEMBL) — prefixes
    // must collect both, sorted; the duplicated (s,p,o) edge counts
    // once (merged-graph semantics); two patterns differ by predicate.
    val nodes = Seq(
      ("NCBI:1", "gene", "NCBI"), ("ENSEMBL:2", "gene", "ENSEMBL"),
      ("MONDO:3", "disease", "MONDO")).toDF("id", "category", "prefix")
    val edges = Seq(
      ("NCBI:1", "causes", "MONDO:3"),
      ("NCBI:1", "causes", "MONDO:3"),      // duplicate -> collapses
      ("ENSEMBL:2", "causes", "MONDO:3"),
      ("ENSEMBL:2", "treats", "MONDO:3"))
      .toDF("subject", "predicate", "object")
    val out = GraphOps.metaKgOn(nodes, edges).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      ("edge", "gene", "causes", "disease", "", 2L),
      ("edge", "gene", "treats", "disease", "", 1L),
      ("node", "disease", "", "", "MONDO", 1L),
      ("node", "gene", "", "", "ENSEMBL,NCBI", 2L)), out.toSeq.toString)
    val out2 = GraphOps.metaKgOn(nodes.repartition(5),
        edges.repartition(3)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getLong(5)))
    assert(out.toSeq == out2.toSeq)
  }

  test("graph diff: every change class lands exactly once on a fixture") {
    import spark.implicits._
    val n1 = Seq(("A", "x"), ("B", "x"), ("C", "x")).toDF("id", "category")
    val n2 = Seq(("B", "x"), ("C", "y"), ("D", "x")).toDF("id", "category")
    val e1 = Seq((1L, 2L), (1L, 3L)).toDF("s", "o")
    val e2 = Seq((1L, 2L), (2L, 3L)).toDF("s", "o")
    val out = GraphOps.graphDiffOn(n1, n2, e1, e2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map(
      "node_added" -> 1L, "node_removed" -> 1L,
      "node_category_changed" -> 1L, "node_unchanged" -> 1L,
      "edge_added" -> 1L, "edge_removed" -> 1L, "edge_unchanged" -> 1L))
  }

  test("onto closure: diamond collapses to min depth, bound cuts at 4") {
    import spark.implicits._
    // diamond D->B->A, D->C->A (A reached twice, depth must be 2 once)
    // plus a 5-deep chain x5->x4->x3->x2->x1->x0: x0 is beyond the bound
    val edges = Seq(
      ("D", "B"), ("D", "C"), ("B", "A"), ("C", "A"),
      ("x5", "x4"), ("x4", "x3"), ("x3", "x2"), ("x2", "x1"),
      ("x1", "x0")).toDF("subject", "object")
    val out = GraphOps.ontoClosureOn(edges, 4).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    ScratchCache.releaseAll()
    assert(out == Set(
      ("D", "B", 1L), ("D", "C", 1L), ("D", "A", 2L),
      ("B", "A", 1L), ("C", "A", 1L),
      ("x5", "x4", 1L), ("x5", "x3", 2L), ("x5", "x2", 3L),
      ("x5", "x1", 4L), // x0 at depth 5: excluded by the bound
      ("x4", "x3", 1L), ("x4", "x2", 2L), ("x4", "x1", 3L),
      ("x4", "x0", 4L),
      ("x3", "x2", 1L), ("x3", "x1", 2L), ("x3", "x0", 3L),
      ("x2", "x1", 1L), ("x2", "x0", 2L),
      ("x1", "x0", 1L)))
  }

  test("coPairs: planted hub takes the grid path and matches the naive pair build") {
    import spark.implicits._
    // 40 TPC-H-shaped orders (2-7 parts, with cross-order repeats) plus
    // ONE power-law hub order holding 500 distinct parts — the shape
    // that serializes the naive per-key self-join onto a single reducer
    val normal = for (o <- 1L to 40L; i <- 0L until (o % 6 + 2))
      yield (o, (o * 7 + i * 13) % 97)
    val hub = (0L until 500L).map(i => (999L, 1000L + i))
    val op = (normal ++ hub).toDF("o", "p").distinct()
    val naive = op.as("a").join(op.as("b"),
        $"a.o" === $"b.o" && $"a.p" < $"b.p")
      .select($"a.p".as("u"), $"b.p".as("v"))
      .groupBy("u", "v").count().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // threshold forces the hub (500 > 64) through the B=8 grid while
    // the 40 normal orders stay on the cold path
    val hardened = GraphOps.coPairs(GraphOps.sizeTagged(op),
        hotThreshold = 64, blocks = 8)
      .groupBy("u", "v").count().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    ScratchCache.releaseAll()
    assert(hardened == naive)
    // the hub really contributes its full 500·499/2 pair set
    assert(hardened.count(t => t._1 >= 1000L && t._2 >= 1000L) == 500 * 499 / 2)
  }

  test("adamic-adar: hand-computed weighted common-neighbor scores; " +
      "carrySize survives the hot grid") {
    import spark.implicits._
    // orders o1={2,4} (|o|=2), o2={2,4,6} (3), o3={4,6} (2):
    //   AA(2,4) = 1/ln2 + 1/ln3 = 1.442695 + 0.910239 = 2.352934
    //   AA(4,6) = 1/ln3 + 1/ln2 = 2.352934
    //   AA(2,6) = 1/ln3          = 0.910239
    val op = Seq((1L, 2L), (1L, 4L), (2L, 2L), (2L, 4L), (2L, 6L),
      (3L, 4L), (3L, 6L)).toDF("o", "p")
    val out = GraphOps.adamicAdarOn(op).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("n_common"),
        r.getAs[Double]("aa")))
    assert(out.toSeq == Seq(
      (2L, 4L, 2L, 2.352934), (4L, 6L, 2L, 2.352934),
      (2L, 6L, 1L, 0.910239)))
    // forced-hot path: the gsz carry must ride the block grid too
    val tagged = GraphOps.sizeTagged(op)
    val cold = GraphOps.coPairs(tagged, carrySize = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val hot = GraphOps.coPairs(tagged, hotThreshold = 0, blocks = 4,
        carrySize = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    ScratchCache.releaseAll()
    assert(cold == hot)
  }

  test("jaccard on a planted hub equals a naive-pair-build replica") {
    import spark.implicits._
    val normal = for (o <- 1L to 30L; i <- 0L until (o % 5 + 2))
      yield (o, (o * 11 + i * 17) % 61)
    val hub = (0L until 400L).map(i => (777L, i))
    val m = (normal ++ hub).toDF("o", "p")
    // hardened path (hub 400 > default threshold 256 → grid)
    val got = GraphOps.jaccardOn(m).collect().map(_.toSeq).toSeq
    ScratchCache.releaseAll()
    // the pre-hardening plan, rebuilt inline as the reference
    import org.apache.spark.sql.functions.{count, lit, round}
    val op = m.select("o", "p").distinct()
    val inter = op.as("a").join(op.as("b"),
        $"a.o" === $"b.o" && $"a.p" < $"b.p")
      .select($"a.p".as("u"), $"b.p".as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("c"))
    val deg = op.groupBy($"p").agg(count(lit(1)).as("d"))
    val want = inter
      .join(deg.select($"p".as("u"), $"d".as("du")), "u")
      .join(deg.select($"p".as("v"), $"d".as("dv")), "v")
      .select($"u", $"v", $"c".as("n_common"),
        round($"c".cast("double") / ($"du" + $"dv" - $"c"), 6).as("jaccard"))
      .orderBy($"jaccard".desc, $"u", $"v").limit(20)
      .collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("hits: the all-orders part is the top authority, the all-parts " +
      "order the top hub, sides L1-normalize, partition-invariant") {
    // orders (even ids) 0,2,4,6; parts (odd) 1,3,5,7. Part 1 is cited
    // by every order; order 0 cites every part. Mutual reinforcement
    // must rank part 1 top authority and order 0 top hub.
    val edges = Seq(
      (0L, 1L), (0L, 3L), (0L, 5L), (0L, 7L),
      (2L, 1L), (4L, 1L), (6L, 1L),
      (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val out = GraphOps.hitsOn(edges, iters = 4).collect()
    ScratchCache.releaseAll()
    val auths = out.filter(_.getAs[String]("kind") == "authority")
    val hubs = out.filter(_.getAs[String]("kind") == "hub")
    assert(auths.forall(_.getAs[String]("ntype") == "part"))
    assert(hubs.forall(_.getAs[String]("ntype") == "order"))
    val topAuth = auths.maxBy(_.getAs[Double]("score"))
    val topHub = hubs.maxBy(_.getAs[Double]("score"))
    assert(topAuth.getAs[Long]("node") == 0L) // part id 1 div 2
    assert(topHub.getAs[Long]("node") == 0L)  // order id 0 div 2
    // each side L1-normalizes to 1 (4 auths + 4 hubs all in top-20)
    assert(math.abs(auths.map(_.getAs[Double]("score")).sum - 1.0) < 1e-5)
    assert(math.abs(hubs.map(_.getAs[Double]("score")).sum - 1.0) < 1e-5)
    val out2 = GraphOps.hitsOn(edges.repartition(7), iters = 4).collect()
    ScratchCache.releaseAll()
    assert(out.map(_.toString).toSeq == out2.map(_.toString).toSeq)
  }
}

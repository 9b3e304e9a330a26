package perfbench

import graft.SparkEntry
import graft.Tables
import graft.catalog.{Catalogs, ConstraintCatalog}
import graft.functions.{Memos, Phases}
import graft.graph.{Analytics, GraphBuilder, HeteroGraph}
import graft.learn.{TrainLR, TrainedModel}
import graft.serve.{ModelStore, Recommend}
import graft.topology.{EdgeKey, Topology}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What one timed operation hands back for checking (outside the timer). */
final case class Checked(
    failures: Seq[String],
    /** canonical answers, pinned at the default seed by run.py */
    answers: Map[String, Any] = Map.empty)

/** A workload: `setup` builds held state from the generated inputs in
  * `dataDir`; `op` is one timed operation; `check` verifies its result
  * untimed. Fixture and reference work inside `setup` goes through
  * [[Ctx.untimed]] so that it stays out of `setup_s`. */
trait Workload {
  type R
  def scaleFactor: Double
  /** untimed operations that end the set-up (the JVM warms up on them) */
  def warmups: Int = 1
  /** the input tables the workload reads */
  def tables: Seq[String] = DataGen.tables
  def setup(dataDir: String): Unit
  def op(i: Int): R
  def check(i: Int, r: R): Checked
  /** checks that run once, after the timed phase */
  def finalChecks(): Checked = Checked(Nil)
  /** RDDs the benchmark itself keeps in storage (its pinned inputs) */
  def ownRdds: Set[Int] = Set.empty
}

final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val tracer: Tracer, val pinned: Boolean) {
  /** Nanoseconds spent in [[untimed]] blocks; Main takes them out of the
    * set-up time. */
  var untimedNs = 0L

  /** Fixture or reference work (inputs, expected answers) that runs during
    * set-up but is not the program's. Not traced: the tracer drops jobs
    * that start outside every span. */
  def untimed[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally untimedNs += System.nanoTime() - t0
  }

  def newDir(name: String): String = {
    val d = new java.io.File(work, name)
    d.mkdirs()
    d.getPath
  }

  /** Deterministic draw in [0, n) from (seed, salt, i). */
  def draw(salt: Long, i: Long, n: Long): Long = {
    var x = seed * 0x9E3779B97F4A7C15L ^ (salt * 0xC2B2AE3D27D4EB4FL) ^ (i * 0x165667B19E3779F9L)
    x = (x ^ (x >>> 33)) * 0xFF51AFD7ED558CCDL
    x = (x ^ (x >>> 33)) * 0xC4CEB9FE1A85EC53L
    x ^= x >>> 33
    java.lang.Math.floorMod(x, n)
  }
}

/** The DVC flow (convert_to_graph → train) with cold data structures;
  * `serve` runs it in its set-up. */
object PipelineFlow {
  val target: EdgeKey = EdgeKey("orders", "hasPart", "part")

  /** The fixture's PK/FK schema as live DDL (quoted lower-case names so
    * JDBC metadata reports them as the parquet tables are named). */
  val derbyDdl: Seq[String] = Seq(
    """CREATE TABLE "region" ("r_regionkey" INT PRIMARY KEY, "r_name" VARCHAR(40))""",
    """CREATE TABLE "nation" ("n_nationkey" INT PRIMARY KEY, "n_name" VARCHAR(40),
      | "n_regionkey" INT REFERENCES "region" ("r_regionkey"))""".stripMargin,
    """CREATE TABLE "customer" ("c_custkey" BIGINT PRIMARY KEY, "c_name" VARCHAR(40),
      | "c_nationkey" INT REFERENCES "nation" ("n_nationkey"), "c_acctbal" DOUBLE,
      | "c_mktsegment" VARCHAR(20))""".stripMargin,
    """CREATE TABLE "supplier" ("s_suppkey" BIGINT PRIMARY KEY, "s_name" VARCHAR(40),
      | "s_nationkey" INT REFERENCES "nation" ("n_nationkey"), "s_acctbal" DOUBLE)""".stripMargin,
    """CREATE TABLE "part" ("p_partkey" BIGINT PRIMARY KEY, "p_name" VARCHAR(60),
      | "p_brand" VARCHAR(20), "p_type" VARCHAR(30), "p_size" INT,
      | "p_retailprice" DOUBLE)""".stripMargin,
    """CREATE TABLE "orders" ("o_orderkey" BIGINT PRIMARY KEY,
      | "o_custkey" BIGINT REFERENCES "customer" ("c_custkey"), "o_orderstatus" CHAR(1),
      | "o_totalprice" DOUBLE, "o_orderdate" TIMESTAMP, "o_orderpriority" VARCHAR(20))""".stripMargin,
    """CREATE TABLE "lineitem" (
      | "l_orderkey" BIGINT REFERENCES "orders" ("o_orderkey"),
      | "l_partkey" BIGINT REFERENCES "part" ("p_partkey"),
      | "l_suppkey" BIGINT REFERENCES "supplier" ("s_suppkey"),
      | "l_linenumber" INT, "l_quantity" DOUBLE, "l_extendedprice" DOUBLE,
      | "l_discount" DOUBLE, "l_tax" DOUBLE, "l_returnflag" CHAR(1),
      | "l_linestatus" CHAR(1), "l_shipdate" TIMESTAMP,
      | PRIMARY KEY ("l_orderkey", "l_linenumber"))""".stripMargin,
    """CREATE TABLE "events" ("event_id" BIGINT PRIMARY KEY, "ts" TIMESTAMP,
      | "user_id" BIGINT REFERENCES "customer" ("c_custkey"), "event_type" VARCHAR(20),
      | "value" DOUBLE, "props" VARCHAR(200))""".stripMargin,
    """CREATE TABLE "documents" ("doc_id" BIGINT PRIMARY KEY, "text" VARCHAR(2000),
      | "lang" VARCHAR(8), "source" VARCHAR(20), "n_chars" BIGINT)""".stripMargin,
    """CREATE TABLE "embeddings" ("vec_id" BIGINT PRIMARY KEY, "embedding" BLOB,
      | "label" INT)""".stripMargin)

  def derby(name: String): java.sql.Connection = {
    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$name;create=true")
    val st = conn.createStatement()
    derbyDdl.foreach(st.executeUpdate)
    st.close()
    conn
  }

  def dropDerby(name: String): Unit =
    try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true")
    catch { case _: java.sql.SQLException => () } // a successful drop reports an error

  final case class Result(cat: ConstraintCatalog, model: TrainedModel, out: String)

  /** One cold iteration of the flow, writing under `out`. */
  def run(c: Ctx, conn: java.sql.Connection, dataDir: String, out: String,
      trainSeed: Long): Result = {
    implicit val spark: SparkSession = c.spark
    val tr = c.tracer
    Memos.clear(spark)
    spark.catalog.clearCache()
    val cat = tr.span("catalog.fromJdbc")(Catalogs.fromJdbc(conn))
    tr.span("topology.classify")(Topology.classify(cat))
    val g = tr.span("graph.GraphBuilder.build")(GraphBuilder.build(cat,
      n => Tables.load(spark, dataDir, n), extraEdges = Seq(SparkEntry.ordersPartEdge),
      probeDense = true)).addDegree.withReverseEdges.withSelfLoops
    tr.span("graph.HeteroGraph.save")(g.save(s"$out/graph"))
    Phases.drain()
    val m = tr.span("learn.TrainLR.train") {
      val m = TrainLR.train(g, target, seed = trainSeed)
      val sid = tr.currentSpan
      if (tr.isActive) {
        Phases.drain().foreach { case (k, v) => tr.phases += ((sid, k.stripPrefix("train "), v)) }
        tr.facts += ((sid, "fit_iters", m.valMetrics("fit_iters")))
      }
      m
    }
    tr.span("serve.ModelStore.save")(ModelStore.save(m, s"$out/model"))
    Result(cat, m, out)
  }

  /** The q28 envelope: optimiser theorems and metric ranges. */
  def modelFailures(m: TrainedModel): Seq[String] = {
    val vm = m.valMetrics
    Seq(
      "fit_iters <= 51" -> (vm("fit_iters") <= 51.0),
      "fit_obj_final <= fit_obj_initial" -> (vm("fit_obj_final") <= vm("fit_obj_initial") + 1e-9),
      "fit_obj_final <= ln 2" -> (vm("fit_obj_final") <= math.log(2) + 1e-9),
      "val metrics in [0, 1]" ->
        Seq("accuracy", "precision", "recall", "f1").forall(k => vm(k) >= 0.0 && vm(k) <= 1.0),
      "bce >= 0" -> (vm("bce") >= 0.0 && !vm("bce").isNaN))
      .collect { case (name, false) => s"model: $name ($vm)" }
  }

  def catalogFailures(cat: ConstraintCatalog): Seq[String] =
    if (cat.tables.sortBy(_.name) == Catalogs.tpch.tables.sortBy(_.name)) Nil
    else Seq(s"introspected catalog != Catalogs.tpch: ${cat.tables}")
}

/** `serve`: one closed-loop client asking for top-10 parts per basket. */
final class ServeWorkload(c: Ctx, val scaleFactor: Double) extends Workload {
  type R = Array[Row]
  override val warmups = 2
  private implicit def spark: SparkSession = c.spark
  private var dataDir = ""
  private var graph: HeteroGraph = _
  private var model: TrainedModel = _
  private var baskets: IndexedSeq[Seq[Long]] = IndexedSeq.empty
  /** every flow the set-up ran; the last one's outputs are served */
  private var built: Seq[PipelineFlow.Result] = Nil
  val nBaskets = 64

  def setup(dir: String): Unit = {
    dataDir = dir
    val sizes = DataGen.sizes(scaleFactor)
    val name = "graftserve"
    val conn = c.untimed(PipelineFlow.derby(name))
    val trainSeed = c.draw(1, 0, 1L << 31)
    def flow(k: Int) = PipelineFlow.run(c, conn, dataDir, c.newDir(s"model-$k"), trainSeed)
    // A traced run makes the flow twice and traces only the second, so the
    // pipeline layers' figures are warm ones; the JVM's first, cold flow is
    // its warm-up. An untraced run makes one flow.
    try built =
      if (c.tracer.isActive) Seq(c.tracer.untraced(flow(0)), flow(1)) else Seq(flow(0))
    finally c.untimed { conn.close(); PipelineFlow.dropDerby(name) }
    val out = built.last.out
    graph = c.tracer.span("graph.HeteroGraph.load")(HeteroGraph.load(c.spark, s"$out/graph"))
    model = c.tracer.span("serve.ModelStore.load")(ModelStore.load(s"$out/model"))
    // seed baskets: the part lists of orders drawn by the workload seed,
    // mapped to the loaded graph's dense part ids
    baskets = c.untimed {
      val orderKeys = (0 until nBaskets).map(i => c.draw(2, i, sizes.orders))
      val byOrder = Tables.load(c.spark, dataDir, "lineitem")
        .filter(col("l_orderkey").isin(orderKeys: _*))
        .join(graph.nodes("part").select(col("pk").as("l_partkey"), col("id")), "l_partkey")
        .select("l_orderkey", "id").collect()
        .groupBy(_.getLong(0)).map { case (o, rs) => o -> rs.map(_.getLong(1)).distinct.sorted.toSeq }
      orderKeys.map(byOrder)
    }
  }

  def op(i: Int): R = {
    val basket = baskets(java.lang.Math.floorMod(i, nBaskets))
    c.tracer.span("serve.Recommend.recommend")(
      Recommend.recommend(graph, PipelineFlow.target, basket, k = 10, model = Some(model)).collect())
  }

  def check(i: Int, rows: R): Checked = {
    val basket = baskets(java.lang.Math.floorMod(i, nBaskets)).toSet
    val ids = rows.map(_.getAs[Long]("id")).toSeq
    val logits = rows.map(_.getAs[Double]("logit")).toSeq
    val scores = rows.map(_.getAs[Double]("score")).toSeq
    val ordered = rows.toSeq.sliding(2).forall {
      case Seq(a, b) =>
        val (la, lb) = (a.getAs[Double]("logit"), b.getAs[Double]("logit"))
        la > lb || (la == lb && a.getAs[Long]("id") < b.getAs[Long]("id"))
      case _ => true
    }
    val failures = Seq(
      s"request $i: ${rows.length} rows, want 10" -> (rows.length == 10),
      s"request $i: answer contains a seed part" -> ids.forall(id => !basket.contains(id)),
      s"request $i: not ordered by (logit desc, id asc)" -> ordered,
      s"request $i: non-finite score" -> (logits ++ scores).forall(x => !x.isNaN && !x.isInfinite))
      .collect { case (msg, false) => msg }
    Checked(failures, answers =
      if (i < 1) Map(s"request_$i" -> Map("ids" -> ids, "logits" -> logits)) else Map.empty)
  }

  /** The set-up flows' catalogs and models, and — at the default seed,
    * where its answer is pinned — the flagship entry on this run's inputs.
    * Two flows must agree exactly on the metrics made of counts, and on
    * the loss ones up to summation order. */
  override def finalChecks(): Checked = {
    val vms = built.map(_.model.valMetrics)
    val exact = Seq("accuracy", "precision", "recall", "f1", "fit_iters")
    val agree = vms.forall(vm => vm.keySet == vms.head.keySet && vm.forall { case (k, v) =>
      val w = vms.head(k)
      if (exact.contains(k)) v == w else math.abs(v - w) <= 1e-9 * math.max(1.0, math.abs(w))
    })
    val setupFailures =
      built.flatMap(b => PipelineFlow.catalogFailures(b.cat) ++ PipelineFlow.modelFailures(b.model)) ++
        (if (agree) Nil else Seq(s"set-up flows disagree on val metrics: $vms"))
    val metrics = Map("train_val_metrics" ->
      Seq("accuracy", "precision", "recall", "f1", "bce").map(vms.last))
    if (!c.pinned) Checked(setupFailures, answers = metrics)
    else {
      val rows = SparkEntry.entry(c.spark, dataDir).collect()
      val ids = rows.map(r => s"${r.getAs[Long]("id")}:${r.get(1)}").mkString(",")
      Checked(
        setupFailures ++ (if (rows.length == 10) Nil else Seq(s"flagship entry: ${rows.length} rows")),
        answers = metrics ++ Map(
          "flagship_hash" -> Hash.sha256(ids),
          "flagship_logits" -> rows.map(_.getAs[Double]("logit")).toSeq))
    }
  }
}

/** `graph-iterate`: the superstep analytics over the pinned part
  * co-purchase graph, then GraphX dedup groups. */
final class IterateWorkload(c: Ctx, val scaleFactor: Double) extends Workload {
  type R = Map[String, Array[Row]]
  override val tables = Seq("lineitem")
  private var pairs: DataFrame = _
  private var ids: DataFrame = _
  private var sources: DataFrame = _
  private var sourceIds: Set[Long] = Set.empty
  private var component: Map[Long, Long] = Map.empty
  private var firstHashes: Option[Map[String, String]] = None
  private var pinnedRdds: Set[Int] = Set.empty
  val bfsRounds = 3
  // the first two iterations are still warming up (~10 s, then ~8 s)
  override val warmups = 2
  override def ownRdds: Set[Int] = pinnedRdds

  /** Builds and pins the graph and draws the sources: the benchmark's own
    * fixture, so all of it is untimed; `setup_s` is the warm-up iterations. */
  def setup(dataDir: String): Unit = c.untimed {
    val spark = c.spark
    import spark.implicits._
    Memos.clear(spark)
    spark.catalog.clearCache()
    val parts = spark.sessionState.conf.numShufflePartitions
    // parts sharing an order, canonical a < b, with co-purchase support w
    val bi = Tables.load(spark, dataDir, "lineitem")
      .select(col("l_orderkey").as("bk"), col("l_partkey").as("it")).distinct()
    pairs = bi.join(bi.select(col("bk"), col("it").as("it2")), Seq("bk"))
      .filter(col("it") < col("it2"))
      .groupBy(col("it").as("a"), col("it2").as("b")).agg(count(lit(1)).as("w"))
      .coalesce(parts).localCheckpoint(eager = true)
    val nodes = pairs.select(col("a").as("doc_id")).union(pairs.select(col("b")))
      .distinct().coalesce(parts).localCheckpoint(eager = true)
    ids = nodes
    // nothing else is in storage yet: these are the benchmark's pinned graph
    pinnedRdds = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val nodeIds = nodes.as[Long].collect().sorted
    sourceIds = (0 until 10).map(i => nodeIds(c.draw(3, i, nodeIds.length).toInt)).toSet
    sources = sourceIds.toSeq.sorted.toDF("id")
    component = UnionFind.minLabels(pairs.select("a", "b").as[(Long, Long)].collect(), nodeIds)
  }

  def op(i: Int): R = {
    val tr = c.tracer
    val e = pairs.select(col("a").as("src"), col("b").as("dst"))
    def run(name: String)(df: => DataFrame): (String, Array[Row]) =
      name -> tr.span(name)(df.collect())
    Seq(
      run("graph.Analytics.pageRankFixed")(Analytics.pageRankFixed(
        e.unionByName(e.select(col("dst").as("src"), col("src").as("dst"))))),
      run("graph.Analytics.connectedComponentsBounded")(
        Analytics.connectedComponentsBounded(e, rounds = 5, assumeCanonical = true)),
      run("graph.Analytics.kCoreBounded")(
        Analytics.kCoreBounded(e, k = 10, rounds = 3, assumeCanonical = true)),
      run("graph.Analytics.labelPropagation")(
        Analytics.labelPropagation(e, rounds = 3, assumeCanonical = true)),
      run("graph.Analytics.bfsBounded")(
        Analytics.bfsBounded(e, sources, rounds = bfsRounds, assumeCanonical = true)),
      run("graph.Analytics.ssspBounded")(Analytics.ssspBounded(
        pairs.select(col("a"), col("b"), expr("1000000L div w").as("cost")),
        sources, srcCol = "a", dstCol = "b", rounds = 3, assumeCanonical = true)),
      run("ext.Dedup.dedupGroups")(graft.ext.Dedup.dedupGroups(ids,
        pairs.select(col("a").as("doc_a"), col("b").as("doc_b"))))
    ).toMap
  }

  def check(i: Int, r: R): Checked = {
    def longs(rows: Array[Row]): Seq[(Long, Long)] =
      rows.map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
    val hashes = r.map { case (k, rows) =>
      k.split('.').last -> Hash.sha256(longs(rows).map { case (a, b) => s"$a,$b" }.mkString(";"))
    }
    if (firstHashes.isEmpty) firstHashes = Some(hashes)
    val dedup = longs(r("ext.Dedup.dedupGroups"))
    val cc = longs(r("graph.Analytics.connectedComponentsBounded"))
    val bfs = longs(r("graph.Analytics.bfsBounded"))
    val failures = Seq(
      "dedupGroups label != component minimum id" ->
        (dedup.size == component.size && dedup.forall { case (v, l) => component(v) == l }),
      "bounded CC label outside its component or above the node id" ->
        cc.forall { case (v, l) => l <= v && component(l) == component(v) },
      s"BFS depth above $bfsRounds or a source not at depth 0" ->
        (bfs.forall(_._2 <= bfsRounds) &&
          sourceIds.forall(s => bfs.contains((s, 0L)))),
      "results differ from the first iteration" -> firstHashes.contains(hashes))
      .collect { case (msg, false) => s"iteration $i: $msg" }
    Checked(failures, answers = Map("hashes" -> hashes.toSeq.sorted.map(p => Seq(p._1, p._2))))
  }
}

object UnionFind {
  /** Component label = minimum node id of the component, for each node. */
  def minLabels(edges: Array[(Long, Long)], nodes: Array[Long]): Map[Long, Long] = {
    val idx = nodes.zipWithIndex.toMap
    val parent = Array.range(0, nodes.length)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(idx(a)), find(idx(b)))
      // nodes are sorted, so the smaller index is the smaller id
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    nodes.indices.map(i => nodes(i) -> nodes(find(i))).toMap
  }
}

object Hash {
  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
}

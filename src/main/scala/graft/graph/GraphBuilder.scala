package graft.graph

import graft.catalog.ConstraintCatalog
import graft.topology.{EdgeSpec, NodeSpec, Topology, TopologyResult}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Relational → heterogeneous-graph conversion (the reference's core
  * dataflow, `convert_to_graph.py:142-214`), re-expressed as Spark jobs.
  */
object GraphBuilder {

  /** Deterministic dense id assignment 0..N-1 in PK order (W2,
    * `convert_to_graph.py:27` — the reference enumerates rows in scan
    * order; the port makes the ordering explicit: ascending PK).
    *
    * Scale path per SURVEY.md §7.5: range-repartition + in-partition sort
    * gives a total order across partitions, then `zipWithIndex` assigns
    * ranks with one lightweight count job — no single-partition
    * `row_number()` window, no `monotonically_increasing_id`
    * (partition-dependent, SURVEY.md §7.0). Returns `(pk, id)`.
    */
  /** Memoised dense-PK probe results, keyed by (canonicalised source plan,
    * pk column): `Some((lo, n))` = PKs are the dense range `lo..lo+n-1`,
    * `None` = not dense. Every graph-shaped query calls [[build]] afresh,
    * and without the memo each build re-runs one eager min/max/count/
    * countDistinct agg per node table (~9 blocking jobs, several seconds of
    * fixed cost per query at sf0.1; at 100 TB a full-column scan per table
    * per build). Source data is immutable for a session (parquet fixtures),
    * so the probe is a pure function of the canonical scan plan. The row
    * count `n` doubles as the node type's id-space size hint
    * ([[HeteroGraph.sizeHints]]) so flat propagation skips its own eager
    * per-type max-id aggregations. */
  /** The memoised probe (session-scoped via [[graft.functions.Memos]]):
    * `Some((lo, n))` if `df(pkCol)` holds exactly the dense integral
    * range `lo..lo+n-1`. */
  private def probeKey(df: DataFrame, pkCol: String): Any =
    ("dense-probe", df.queryExecution.analyzed.canonicalized, pkCol)

  private def probeResult(
      lo: Option[Long], hi: Option[Long], n: Long, nd: Long): Option[(Long, Long)] =
    (lo, hi) match {
      case (Some(l), Some(h)) if h - l + 1 == n && nd == n => Some((l, n))
      case _ => None
    }

  private def denseProbe(df: DataFrame, pkCol: String): Option[(Long, Long)] =
    graft.functions.Memos.getOrElseUpdate(df.sparkSession, probeKey(df, pkCol)) {
      val r = df.agg(
        min(col(pkCol)).cast("long"), max(col(pkCol)).cast("long"),
        count(lit(1)), countDistinct(col(pkCol))).head()
      probeResult(
        if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getLong(2), r.getLong(3))
    }

  private def isIntegral(df: DataFrame, pkCol: String): Boolean =
    df.schema(pkCol).dataType match {
      case _: LongType | _: IntegerType | _: ShortType | _: ByteType => true
      case _ => false
    }

  /** Fill the probe memo for every not-yet-probed (table, pk) CONCURRENTLY
    * instead of one serial blocking agg per table: a memo-cold graph
    * build's probe fill is then bounded by the largest table's scan, not
    * the table count (the probes are independent single-row aggs, so
    * parallel driver threads let the scheduler overlap their stages). */
  private def denseProbeAll(tables: Seq[(DataFrame, String)]): Unit = {
    val todo = tables
      .filter { case (df, pk) => isIntegral(df, pk) }
      .filter { case (df, pk) =>
        !graft.functions.Memos.contains(df.sparkSession, probeKey(df, pk)) }
    if (todo.sizeIs <= 1) { todo.foreach { case (df, pk) => denseProbe(df, pk) }; return }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    todo.map { case (df, pk) => Future(denseProbe(df, pk)) }
      .foreach(f => Await.result(f, Duration.Inf))
  }

  def denseIds(df: DataFrame, pkCol: String,
      probeDense: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Fast path: an integral PK that is already dense (max−min+1 == count
    // == countDistinct — the distinct check guards against duplicated PKs,
    // which max−min+1 == count alone cannot see, e.g. {1,2,2,4}) maps with
    // a subtraction — rank order and therefore ids are identical to the
    // general path, but the mapping becomes a scan-level projection instead
    // of distinct+shuffle+window. The probe is one column-pruned agg pass
    // but EAGER (a blocking driver action) — direct callers default it on
    // (the mapping is queried immediately, so it amortises); [[build]]
    // defaults it OFF so constructing a graph runs zero Spark jobs. Probe
    // results are memoised per (session, plan, pk) — see [[denseProbe]].
    if (isIntegral(df, pkCol) && probeDense) {
      denseProbe(df, pkCol).foreach { case (lo, _) =>
        return df.select(col(pkCol).as("pk"),
          (col(pkCol).cast("long") - lo).as("id"))
      }
    }
    // Range-partition so partition order == pk order, rank within each
    // partition, then add cumulative partition offsets (a tiny windowed
    // aggregate over #partitions rows). Equivalent to a global
    // row_number() but with no single-partition window — and, unlike
    // RDD.zipWithIndex (which runs its offset-count job EAGERLY at
    // construction), this is one lazy plan: a graph whose mapping is never
    // queried costs nothing. The global rank is invariant to where the
    // sampled range bounds fall, so the ids are partitioning-independent.
    val ranked = df.select(col(pkCol).as("pk")).distinct()
      .repartitionByRange(col("pk"))
      .withColumn("pid", spark_partition_id())
      .withColumn("rn",
        row_number().over(Window.partitionBy("pid").orderBy("pk")))
    val offsets = ranked.groupBy("pid").agg(count(lit(1)).as("cnt"))
      .withColumn("offset",
        coalesce(sum("cnt").over(
          Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("pid"), col("offset"))
    ranked.join(broadcast(offsets), Seq("pid"))
      .select(col("pk"), (col("rn") - 1 + col("offset")).as("id"))
  }

  /** Numeric feature columns of a node table: every numeric column except
    * the PK and any FK columns (P6/P7, `convert_to_graph.py:147-158`). */
  def featureColumns(df: DataFrame, pk: String, fkCols: Seq[String]): Seq[String] =
    df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType]
        && f.name != pk && !fkCols.contains(f.name) => f.name
    }.toSeq

  /** One-hot encode `column` into 0/1 float columns, one per distinct value
    * in sorted order (F6, `convert_to_graph.py:162` `to_dummies`). The
    * distinct set is collected driver-side — one-hot only makes sense for
    * low-cardinality columns; deterministic column order via sort. */
  def oneHotColumns(df: DataFrame, column: String): Seq[org.apache.spark.sql.Column] = {
    val values = df.select(column).distinct().na.drop()
      .collect().map(_.get(0)).sortBy(_.toString).toSeq
    values.map(v =>
      when(col(column) === lit(v), lit(1f)).otherwise(lit(0f))
        .as(s"${column}_$v"))
  }

  /** Build one node type: `(id, pk, features)` plus the `(pk, id)` mapping
    * (G4, `convert_to_graph.py:21-34`, `:194-203`). Null numerics become
    * 0f (the reference would propagate NaN into tensors; zero-fill is the
    * deliberate, documented deviation). */
  def nodeFrame(
      table: DataFrame,
      spec: NodeSpec,
      fkCols: Seq[String],
      oneHotCol: Option[String] = None,
      precomputedMapping: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val mapping = precomputedMapping.getOrElse(denseIds(table, spec.pk))
    val featCols = featureColumns(table, spec.pk, fkCols)
    val base = featCols.map(c => coalesce(col(c).cast(FloatType), lit(0f)).as(c))
    val oh = oneHotCol.toSeq.flatMap(c => oneHotColumns(table, c))
    val featureArray =
      if ((base ++ oh).isEmpty) array().cast(ArrayType(FloatType))
      else array(base ++ oh: _*)
    val withFeatures = table.select(
      col(spec.pk).as("pk"), featureArray.as("features"))
    val nodeDf = withFeatures
      .join(mapping, Seq("pk"))
      .select(col("id"), col("pk"), col("features"))
    (nodeDf, mapping)
  }

  /** Build one edge type in dense-id COO form (G5/J5,
    * `convert_to_graph.py:37-53`, `:205-212`): scan only the two endpoint
    * columns (S5), drop null FK rows (P9, `:184` — nullable FKs like
    * employees.ReportsTo), then remap both endpoints through the `(pk, id)`
    * mappings with two equi-joins. At fixture scale Catalyst broadcasts the
    * mappings; at 100 TB they shuffle on the PK — both are the right plan
    * for their scale, chosen by AQE, not hand-scheduled.
    */
  def edgeFrame(rows: DataFrame, spec: EdgeSpec,
      srcMap: DataFrame, dstMap: DataFrame): DataFrame = {
    val pairs = rows.select(col(spec.srcCol).as("src_pk"),
                            col(spec.dstCol).as("dst_pk"))
      .na.drop()
    pairs
      .join(srcMap.select(col("pk").as("src_pk"), col("id").as("src")), Seq("src_pk"))
      .join(dstMap.select(col("pk").as("dst_pk"), col("id").as("dst")), Seq("dst_pk"))
      .select(col("src"), col("dst"))
  }

  /** Full conversion: classify → per-type node frames → per-type edge
    * frames (the reference's `main()`, `convert_to_graph.py:260-271`,
    * minus the augmentations, which are [[HeteroGraph]] methods).
    *
    * @param loadTable  table name → DataFrame (parquet scan, JDBC, view…)
    * @param oneHot     table → column to one-hot encode (the reference
    *                   hard-codes genres, `convert_to_graph.py:162`)
    * @param probeDense opt-in eager dense-PK probe (one min/max/count/
    *                   countDistinct pass per node table at build time).
    *                   Default OFF: `build` is then fully lazy — zero
    *                   Spark jobs until the first query — at the cost of
    *                   the distinct+window id path. Turn on when queries
    *                   run immediately after the build (the probe
    *                   amortises) or PKs are known dense.
    */
  def build(
      cat: ConstraintCatalog,
      loadTable: String => DataFrame,
      oneHot: Map[String, String] = Map.empty,
      extraEdges: Seq[EdgeSpec] = Nil,
      probeDense: Boolean = false): HeteroGraph = {
    val topo: TopologyResult = Topology.classify(cat)
    // one combined probe job for every memo-cold table instead of a
    // serial blocking agg per table — see [[denseProbeAll]]
    if (probeDense)
      denseProbeAll(topo.nodes.map(n => (loadTable(n.table), n.pk)))
    val built = topo.nodes.map { n =>
      val fkCols = cat(n.table).fks.map(_.fromCol)
      // cache each (pk → id) mapping: the node frame and every edge type
      // touching this node type re-reads it, and without the barrier each
      // consumer would re-run the distinct + range-repartition + window
      // plan (the dominant cost of a graph build). cache() (not
      // localCheckpoint: under AQE that executes stages at CALL time) is
      // lazy — a query that never touches a mapping never pays for it.
      val mapping =
        graft.functions.Caching.ensureCached(denseIds(loadTable(n.table), n.pk, probeDense))
      val (nodeDf, _) =
        nodeFrame(loadTable(n.table), n, fkCols, oneHot.get(n.table), Some(mapping))
      n.table -> (nodeDf, mapping)
    }.toMap
    val mappings = built.map { case (t, (_, m)) => t -> m }
    val edges = (topo.edges ++ extraEdges).map { e =>
      e.key -> edgeFrame(loadTable(e.rowsTable), e,
        mappings(e.srcTable), mappings(e.dstTable))
    }.toMap
    // id-space sizes fall out of the dense probe for free (memoised) —
    // downstream flat layouts then need no eager max(id) pass per type
    val hints =
      if (!probeDense) Map.empty[String, Long]
      else topo.nodes.flatMap { n =>
        if (!isIntegral(loadTable(n.table), n.pk)) None
        else denseProbe(loadTable(n.table), n.pk).map(p => n.table -> p._2)
      }.toMap
    HeteroGraph(built.map { case (t, (n, _)) => t -> n }, edges, hints)
  }
}

package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.pregel.SuperstepLoop
import scala.collection.mutable

/** Orientation of a relationship projection.
  *
  * Mirrors the reference's `Orientation` enum
  * (reference: core/src/main/java/org/neo4j/gds/Orientation.java:31-33):
  * NATURAL keeps edges as loaded, REVERSE swaps source/target, UNDIRECTED
  * materializes both directions (the reference stores undirected edges twice,
  * doc/asciidoc/common-usage/memory-estimation.adoc:17).
  */
sealed trait Orientation
object Orientation {
  case object Natural    extends Orientation
  case object Reverse    extends Orientation
  case object Undirected extends Orientation
}

/** Parallel-edge aggregation applied at graph-creation time.
  *
  * Mirrors the reference's `Aggregation` enum
  * (reference: core/src/main/java/org/neo4j/gds/core/Aggregation.java:31-146).
  * NONE keeps parallel edges (multi-graph); SINGLE keeps an arbitrary-but-
  * deterministic one (we pick min weight for determinism under parallelism);
  * SUM/MIN/MAX/COUNT aggregate the weight column.
  */
sealed trait EdgeAggregation
object EdgeAggregation {
  case object None   extends EdgeAggregation
  case object Single extends EdgeAggregation
  case object Sum    extends EdgeAggregation
  case object Min    extends EdgeAggregation
  case object Max    extends EdgeAggregation
  case object Count  extends EdgeAggregation
}

/** A projected property graph: a `vertices` DataFrame (`id: LONG` + property
  * columns) and an `edges` DataFrame (`src: LONG, dst: LONG[, weight: DOUBLE]`).
  *
  * This is the Spark-native analogue of the reference's in-memory
  * `GraphStore`/`Graph` pair (reference:
  * core/src/main/java/org/neo4j/gds/api/GraphStore.java:43-183,
  * core/src/main/java/org/neo4j/gds/api/Graph.java:27-75): instead of an
  * IdMap + CSR we keep original 64-bit ids end-to-end and express label/type
  * filtering and orientation as pure Dataset transformations, letting
  * Catalyst push filters/prune columns. Node properties are simply columns on
  * `vertices` (the reference stores them as columnar arrays,
  * core/src/main/java/org/neo4j/gds/api/nodeproperties/ValueType.java:29-262).
  *
  * The graph also owns its superstep projections, the analogue of the
  * reference's per-orientation CSR inside a `GraphStore`: [[outEdges]],
  * [[inEdges]] and [[vertexIds]], each hash-partitioned by its key through
  * [[graft.pregel.SuperstepLoop.persistInput]] and keyed by partition count.
  * One is built on first use and reused by every later algorithm call at
  * that width while it is cached; a call after `spark.catalog.clearCache()`
  * rebuilds it. Algorithms derive their superstep inputs from these without
  * an exchange and never unpersist them: the graph does, in [[unpersist]]
  * (which [[GraphCatalog.drop]] calls). `copy` and [[subgraph]] start with
  * none. One graph at a time holds cached projections, at one width: a
  * graph that builds one first frees the set another graph holds, and its
  * own at any other width, so callers that run algorithms on many
  * short-lived graphs without `unpersist` do not fill the storage pool.
  */
final case class PropertyGraph(vertices: DataFrame, edges: DataFrame) {

  /** This graph's cached projections by (kind, partition count), read and
    * written under the companion's lock only. */
  private val projections = mutable.Map.empty[(String, Int), DataFrame]

  private def projection(kind: String, parts: Int)(build: => DataFrame): DataFrame =
    PropertyGraph.synchronized {
      projections.get((kind, parts)).filter(_.storageLevel != StorageLevel.NONE).getOrElse {
        PropertyGraph.claim(projections, parts)
        val df = build
        projections((kind, parts)) = df
        df
      }
    }

  private def edgeRows: DataFrame = GraphOps.withWeight(edges).select("src", "dst", "weight")

  /** `(src, dst, weight)` (weight defaulted as [[GraphOps.withWeight]] does),
    * hash-partitioned by `src` into `parts` and cached. */
  def outEdges(parts: Int): DataFrame =
    projection("out", parts)(SuperstepLoop.persistInput(edgeRows, parts, "src"))

  /** The rows of [[outEdges]], hash-partitioned by `dst` into `parts` and cached. */
  def inEdges(parts: Int): DataFrame =
    projection("in", parts)(SuperstepLoop.persistInput(edgeRows, parts, "dst"))

  /** The vertex ids, hash-partitioned by `id` into `parts` and cached. */
  def vertexIds(parts: Int): DataFrame =
    projection("ids", parts)(SuperstepLoop.persistInput(vertices.select("id"), parts, "id"))

  /** `(src, dst, weight)` under `orientation`, hash-partitioned by `src`
    * into `parts`, read from the projections with no exchange: REVERSE is
    * [[inEdges]] with its endpoints swapped, UNDIRECTED is that unioned with
    * [[outEdges]] (both sides report the same partitioning, so the union
    * does too). Not cached itself. */
  def edgesBySrc(orientation: Orientation, parts: Int): DataFrame = {
    def reversed = inEdges(parts).select(col("dst").as("src"), col("src").as("dst"), col("weight"))
    orientation match {
      case Orientation.Natural    => outEdges(parts)
      case Orientation.Reverse    => reversed
      case Orientation.Undirected => outEdges(parts).unionByName(reversed)
    }
  }

  /** Whether the projected edge rows are `edges` itself, column for column:
    * no columns besides `src`, `dst` and a non-nullable DOUBLE `weight` (the
    * projections would read a null weight as the 1.0 default). */
  private[graft] def plainEdges: Boolean =
    edges.schema.forall(f => f.name == "src" || f.name == "dst" ||
      (f.name == "weight" && f.dataType == org.apache.spark.sql.types.DoubleType && !f.nullable))

  /** Frees every projection this graph holds. A later call rebuilds them. */
  def unpersist(): Unit = PropertyGraph.release(projections)

  /** Edge view under the given orientation. UNDIRECTED doubles each edge. */
  def orientedEdges(orientation: Orientation): DataFrame = orientation match {
    case Orientation.Natural => edges
    case Orientation.Reverse =>
      edges.withColumnRenamed("src", "__t")
        .withColumnRenamed("dst", "src").withColumnRenamed("__t", "dst")
    case Orientation.Undirected =>
      val rev = edges.withColumnRenamed("src", "__t")
        .withColumnRenamed("dst", "src").withColumnRenamed("__t", "dst")
      edges.unionByName(rev)
  }

  /** Per-node degree under the given orientation (0 for edge-less vertices).
    * Weighted = sum of weights, like the reference's DegreeCentrality
    * (reference: algo/src/main/java/org/neo4j/gds/degree/DegreeCentrality.java:40-108).
    */
  def degrees(orientation: Orientation = Orientation.Natural,
              weighted: Boolean = false): DataFrame = {
    val es  = GraphOps.withWeight(orientedEdges(orientation))
    val agg = if (weighted) sum(col("weight")) else count(lit(1)).cast("double")
    val d   = es.groupBy(col("src").as("id")).agg(agg.as("degree"))
    vertices.select("id")
      .join(d, Seq("id"), "left")
      .na.fill(0.0, Seq("degree"))
  }

  /** Subgraph by Catalyst predicate expressions over vertex / edge columns.
    * The reference exposes this as `gds.beta.graph.create.subgraph` with a
    * small Cypher-syntax expression language (reference:
    * core/src/main/java/org/neo4j/gds/beta/filter/expression/Expression.java:48-300);
    * we accept Spark SQL expressions, a strict superset.
    */
  def subgraph(vertexPredicate: String = "true",
               edgePredicate: String = "true"): PropertyGraph = {
    val vs  = vertices.filter(expr(vertexPredicate))
    val ids = vs.select("id")
    val es = edges.filter(expr(edgePredicate))
      .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .select(edges.columns.map(col): _*) // semi-joins reorder columns
    PropertyGraph(vs, es)
  }
}

object PropertyGraph {

  private type Held = mutable.Map[(String, Int), DataFrame]

  /** The projection set that holds cache entries, if any. */
  private var holder: Option[Held] = None

  /** Readies `held` to build a projection at width `parts`: frees the set
    * another graph holds (first, so a plan the two share is cached again by
    * the build) and the entries of `held` at any other width. */
  private def claim(held: Held, parts: Int): Unit = synchronized {
    holder.filter(_ ne held).foreach(free(_, _ => true))
    holder = Some(held)
    free(held, _ != parts)
  }

  private def release(held: Held): Unit = synchronized {
    if (holder.exists(_ eq held)) holder = None
    free(held, _ => true)
  }

  /** Unpersists and forgets the entries of `held` whose width `drop` selects. */
  private def free(held: Held, drop: Int => Boolean): Unit =
    held.keys.filter(k => drop(k._2)).toList.foreach(k => held.remove(k).foreach(_.unpersist(false)))
}

object GraphOps {

  /** Ensure a `weight: DOUBLE` column exists (default 1.0, the reference's
    * DefaultValue fallback for relationship properties). */
  def withWeight(edges: DataFrame, default: Double = 1.0): DataFrame =
    if (edges.columns.contains("weight"))
      edges.withColumn("weight", coalesce(col("weight").cast("double"), lit(default)))
    else edges.withColumn("weight", lit(default))

  /** Apply parallel-edge aggregation (reference: core/src/main/java/org/neo4j/
    * gds/core/Aggregation.java:31-146). One shuffle on (src,dst); map-side
    * partial aggregation keeps hub pairs cheap. */
  def aggregateEdges(edges: DataFrame, how: EdgeAggregation): DataFrame = {
    val es = withWeight(edges)
    how match {
      case EdgeAggregation.None   => es
      case EdgeAggregation.Single => es.groupBy("src", "dst").agg(min("weight").as("weight"))
      case EdgeAggregation.Sum    => es.groupBy("src", "dst").agg(sum("weight").as("weight"))
      case EdgeAggregation.Min    => es.groupBy("src", "dst").agg(min("weight").as("weight"))
      case EdgeAggregation.Max    => es.groupBy("src", "dst").agg(max("weight").as("weight"))
      case EdgeAggregation.Count  => es.groupBy("src", "dst").agg(count(lit(1)).cast("double").as("weight"))
    }
  }

  /** Canonical simple undirected edge set: (lo, hi) with lo < hi, self-loops
    * dropped, parallel edges deduplicated. The input may be directed or
    * already doubled. Used by triangle counting (reference requires an
    * UNDIRECTED projection and ignores self-loops / parallels —
    * algo/src/main/java/org/neo4j/gds/triangle/IntersectingTriangleCount.java:129-181). */
  def canonicalUndirected(edges: DataFrame): DataFrame =
    edges
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("lo"),
              greatest(col("src"), col("dst")).as("hi"))
      .distinct()

  /** Derive the vertex set from an edge table (for graphs without an explicit
    * vertex table). */
  def verticesOf(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id")))
      .distinct()

  /** Adaptive shuffle width: one partition per ~25k rows, capped at the
    * session shuffle width. A superstep over a small (sub)graph otherwise
    * fans every stage across the full session width — at 32 threads the
    * per-task fixed costs (task-binary class resolution, broadcast-block
    * KeyLock, codegen locks) all contend and dominate wall time (measured:
    * 2.2x on a 300-node fixture). At web scale `rows/25k` passes the cap and
    * this is exactly the session width, so cluster deployments size it via
    * conf as before.
    *
    * Floor of 2, never 1: a single-partition output satisfies every
    * distribution requirement, so Catalyst drops all exchanges and fuses a
    * whole superstep chain into one task of nested joins — which re-enters a
    * freed SortExec sorter (NPE in UnsafeExternalSorter.insertRecord, seen on
    * the sf0.001 tail of [[graft.algo.Scc]], where this width scaling was
    * first applied per peeling round). */
  def adaptiveParts(spark: SparkSession, rows: Long, rowsPerPart: Long = 25000L): Int = {
    val cap = spark.sessionState.conf.numShufflePartitions
    math.max(2L, math.min(cap.toLong, rows / rowsPerPart + 1L)).toInt
  }

  /** Run `body` with `spark.sql.shuffle.partitions` scoped to `width`,
    * restoring the previous setting after. Plans built AND materialized
    * inside (superstep loops, persisted passes) get the scoped width for
    * every groupBy/join shuffle; a lazy DataFrame returned out of the scope
    * plans at the caller's width. */
  def withShuffleWidth[T](spark: SparkSession, width: Int)(body: => T): T = {
    val key  = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, width.toString)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** [[withShuffleWidth]] at [[adaptiveParts]] of `rows`. */
  def withAdaptiveShuffle[T](spark: SparkSession, rows: Long)(body: => T): T =
    withShuffleWidth(spark, adaptiveParts(spark, rows))(body)
}

/** Session-scoped named-graph registry — the Spark-native analogue of the
  * reference's process-global `GraphStoreCatalog`
  * (reference: core/src/main/java/org/neo4j/gds/core/loading/GraphStoreCatalog.java:41-185).
  * Covers gds.graph.create/drop/list/exists and property stream/write/remove
  * (reference: proc/catalog/src/main/java/org/neo4j/gds/catalog/ procs).
  */
final class GraphCatalog {
  private val graphs = scala.collection.concurrent.TrieMap.empty[String, PropertyGraph]

  def create(name: String, graph: PropertyGraph,
             aggregation: EdgeAggregation = EdgeAggregation.None): PropertyGraph = {
    val g = graph.copy(edges = GraphOps.aggregateEdges(graph.edges, aggregation))
    put(name, g)
    g
  }

  /** Registers `g` under `name`; a graph it replaces frees its projections. */
  private def put(name: String, g: PropertyGraph): Unit =
    graphs.put(name, g).filter(_ ne g).foreach(_.unpersist())

  def get(name: String): PropertyGraph =
    graphs.getOrElse(name, throw new NoSuchElementException(s"Graph not in catalog: $name"))

  def exists(name: String): Boolean      = graphs.contains(name)
  /** Removes the graph and frees its projections ([[PropertyGraph.unpersist]]). */
  def drop(name: String): Boolean        = graphs.remove(name).map(_.unpersist()).isDefined
  def list(): Seq[String]                = graphs.keys.toSeq.sorted

  /** `mutate` execution mode: attach an algorithm result as a new vertex
    * property of the in-session graph (enables chaining), like the
    * reference's MutatePropertyProc (proc/common/src/main/java/org/neo4j/gds/
    * MutatePropertyProc.java:51-87). `result` must have columns (id, value).
    */
  def mutateNodeProperty(name: String, property: String, result: DataFrame): PropertyGraph = {
    val g  = get(name)
    val r  = result.withColumnRenamed(result.columns.filter(_ != "id").head, property)
    val vs = g.vertices.join(r.select(col("id"), col(property)), Seq("id"), "left")
    val g2 = g.copy(vertices = vs)
    put(name, g2)
    g2
  }

  def removeNodeProperty(name: String, property: String): PropertyGraph = {
    val g  = get(name)
    val g2 = g.copy(vertices = g.vertices.drop(property))
    put(name, g2)
    g2
  }

  /** `gds.graph.writeRelationship` analogue (reference: proc/catalog/src/
    * main/java/org/neo4j/gds/catalog/GraphWriteRelationshipProc.java):
    * attach an algorithm's relationship result (e.g. nodeSimilarity pairs)
    * to the in-session graph as new edges tagged `rel_type`. `result` must
    * have (src, dst) plus optional property columns. */
  def addRelationships(name: String, relType: String, result: DataFrame): PropertyGraph = {
    val g = get(name)
    import org.apache.spark.sql.functions.lit
    val existing =
      if (g.edges.columns.contains("rel_type")) g.edges
      else g.edges.withColumn("rel_type", lit(null).cast("string"))
    val incoming = result.withColumn("rel_type", lit(relType))
    // unionByName null-fills columns present on only one side
    val g2 = g.copy(edges = existing.unionByName(incoming, allowMissingColumns = true))
    put(name, g2)
    g2
  }

  /** `gds.graph.deleteRelationships` analogue (GraphDeleteRelationshipProc):
    * drop every edge of the given rel_type. Untyped edges are kept. */
  def deleteRelationships(name: String, relType: String): PropertyGraph = {
    val g = get(name)
    import org.apache.spark.sql.functions.col
    val g2 =
      if (!g.edges.columns.contains("rel_type")) g
      else g.copy(edges = g.edges.filter(
        col("rel_type").isNull || col("rel_type") =!= relType))
    put(name, g2)
    g2
  }
}

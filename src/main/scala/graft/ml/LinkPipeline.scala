package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.PropertyGraph
import scala.collection.concurrent.TrieMap

/** Staged link-prediction pipeline (reference:
  * `gds.alpha.ml.pipeline.linkPrediction.{create,addNodeProperty,addFeature,
  * configureSplit,configureParams,train,predict}` — alpha/alpha-proc/src/
  * main/java/org/neo4j/gds/ml/linkmodels/pipeline): a named, mutable
  * recipe of
  *   1. node-property steps (algorithms mutating the graph's vertex table),
  *   2. link-feature steps (endpoint-vector combiners, concatenated),
  *   3. a deterministic train/test relationship split, and
  *   4. a set of logistic-regression parameter candidates,
  * then `train` runs every candidate on the train split, selects the winner
  * on the test split (the reference's model selection over the validation
  * metric) and registers the result in [[ModelCatalog]].
  *
  * Spark shapes: node-property steps are the existing distributed
  * algorithms (FastRP / PageRank / degree) joined back onto the vertex
  * table; the split is [[SplitRelationships]] (pure-expression md5 draw, no
  * RNG state); candidate training reuses [[LogisticRegression]] (one
  * codegen'd scan per epoch, model weights driver-held); feature assembly
  * is `zip_with`/`flatten` — no UDFs anywhere.
  */
object LinkPipeline {

  import LinkPrediction.Combiner

  final case class NodePropertyStep(proc: String, mutateProperty: String,
                                    config: Map[String, String] = Map.empty)
  final case class FeatureStep(combiner: Combiner, nodeProperties: Seq[String])
  final case class SplitCfg(testFraction: Double = 0.2,
                            negativeSamplingRatio: Double = 1.0,
                            seed: Long = 42L)

  final case class Pipeline(name: String,
                            nodePropertySteps: Seq[NodePropertyStep] = Seq.empty,
                            featureSteps: Seq[FeatureStep] = Seq.empty,
                            split: SplitCfg = SplitCfg(),
                            params: Seq[LogisticRegression.LrConfig] =
                              Seq(LogisticRegression.LrConfig(maxIterations = 60)))

  /** Trained pipeline model: the winning candidate plus everything needed
    * to score a raw graph (steps + features are replayed at predict time,
    * mirroring the reference's predict-time node-property execution). */
  final case class PipelineModel(pipeline: Pipeline,
                                 model: LogisticRegression.LrModel,
                                 dims: Int, winner: Int,
                                 candidateTestAcc: Seq[Double],
                                 trainAccuracy: Double, testAccuracy: Double)

  private val registry = TrieMap.empty[String, Pipeline]

  def create(name: String): Pipeline = {
    val p = Pipeline(name)
    registry.put(name, p); p
  }
  def exists(name: String): Boolean = registry.contains(name)
  def drop(name: String): Boolean = registry.remove(name).isDefined
  def get(name: String): Pipeline =
    registry.getOrElse(name,
      throw new NoSuchElementException(s"Pipeline not found: $name"))

  private def update(name: String)(f: Pipeline => Pipeline): Pipeline = {
    val p = f(get(name)); registry.put(name, p); p
  }

  def addNodeProperty(name: String, proc: String, mutateProperty: String,
                      config: Map[String, String] = Map.empty): Pipeline =
    update(name)(p => p.copy(
      nodePropertySteps = p.nodePropertySteps :+
        NodePropertyStep(validateProc(proc), mutateProperty, config)))

  def addFeature(name: String, combiner: Combiner,
                 nodeProperties: Seq[String]): Pipeline = {
    require(nodeProperties.nonEmpty, "addFeature needs at least one node property")
    update(name)(p => p.copy(
      featureSteps = p.featureSteps :+ FeatureStep(combiner, nodeProperties)))
  }

  def configureSplit(name: String, split: SplitCfg): Pipeline = {
    require(split.testFraction > 0.0 && split.testFraction < 1.0,
      s"testFraction must be in (0,1): ${split.testFraction}")
    update(name)(_.copy(split = split))
  }

  def configureParams(name: String,
                      params: Seq[LogisticRegression.LrConfig]): Pipeline = {
    require(params.nonEmpty, "configureParams needs at least one candidate")
    update(name)(_.copy(params = params))
  }

  private def validateProc(proc: String): String = proc match {
    case "fastRP" | "pageRank" | "degree" => proc
    case other => throw new IllegalArgumentException(
      s"Unsupported node-property step: $other (supported: fastRP, pageRank, degree)")
  }

  /** Memo of mutated vertex tables keyed by (graph identity, steps) — the
    * Spark analogue of the reference executing node-property steps in MUTATE
    * mode into the catalog's in-memory graph store, where a later predict
    * over the same graph reads the already-written properties instead of
    * recomputing them (pipeline/.../NodePropertyStepExecutor semantics).
    * PropertyGraph is a case class of DataFrames (reference equality), so a
    * hit requires the same graph object. Bounded LRU; evicted entries are
    * unpersisted. */
  private val mutatedCache =
    new java.util.LinkedHashMap[(PropertyGraph, Seq[NodePropertyStep]), DataFrame](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(PropertyGraph, Seq[NodePropertyStep]), DataFrame]): Boolean = {
        val evict = size() > 4
        if (evict) e.getValue.unpersist(false)
        evict
      }
    }

  /** Mutated vertex table for (graph, steps), persisted; cached per graph
    * object so train + predict over the same graph run the algorithms once. */
  private def mutatedVertices(g: PropertyGraph,
                              steps: Seq[NodePropertyStep]): DataFrame =
    mutatedCache.synchronized {
      val key = (g, steps)
      val hit = mutatedCache.get(key)
      if (hit != null) hit
      else {
        val v = applyNodeProperties(g, steps).vertices.persist()
        mutatedCache.put(key, v)
        v
      }
    }

  /** Drop all memoized mutated vertex tables (test hygiene). */
  def clearMutatedCache(): Unit = mutatedCache.synchronized {
    val it = mutatedCache.values().iterator()
    while (it.hasNext) { it.next().unpersist(false); it.remove() }
  }

  /** Run every node-property step, joining each result column onto the
    * vertex table (the reference's mutate-mode execution into the in-memory
    * graph). */
  private[ml] def applyNodeProperties(g: PropertyGraph,
                                      steps: Seq[NodePropertyStep]): PropertyGraph =
    steps.foldLeft(g) { (cur, s) =>
      val resultCol: DataFrame = s.proc match {
        case "fastRP" =>
          val cfg = graft.algo.FastRP.FastRPConfig(
            embeddingDimension = s.config.getOrElse("embeddingDimension", "64").toInt,
            seed = s.config.getOrElse("seed", "42").toLong)
          graft.algo.FastRP.run(cur, cfg)
            .select(col("id"), col("embedding").as(s.mutateProperty))
        case "pageRank" =>
          val cfg = graft.algo.PageRankConfig(
            maxIterations = s.config.getOrElse("maxIterations", "20").toInt,
            tolerance = s.config.getOrElse("tolerance", "1e-7").toDouble)
          val scores = graft.algo.PageRank.run(cur, cfg).scores
          // a graph made by an earlier step is dropped after this one
          if (cur ne g) cur.unpersist()
          scores.select(col("id"), col("score").as(s.mutateProperty))
        case "degree" =>
          graft.algo.DegreeCentrality.run(cur)
            .select(col("id"), col("score").as(s.mutateProperty))
      }
      cur.copy(vertices =
        cur.vertices.join(resultCol, Seq("id"), "left"))
    }

  /** Assemble the concatenated per-pair feature vector over all feature
    * steps and their properties. Scalar properties are treated as length-1
    * vectors (reference LinkFeatureStep semantics). */
  private[ml] def pairFeatures(vertices: DataFrame, pairs: DataFrame,
                               steps: Seq[FeatureStep]): DataFrame = {
    require(steps.nonEmpty, "pipeline has no feature steps")
    val props = steps.flatMap(_.nodeProperties).distinct
    // arrays pass through (element cast); numeric scalars become 1-vectors
    // (reference LinkFeatureStep treats scalar properties as length-1)
    def asVec(p: String) = vertices.schema(p).dataType match {
      case _: org.apache.spark.sql.types.ArrayType => col(p).cast("array<double>")
      case _ => array(col(p).cast("double"))
    }
    val va = vertices.select(col("id").as("src") +:
      props.map(p => asVec(p).as(s"__a_$p")): _*)
    val vb = vertices.select(col("id").as("dst") +:
      props.map(p => asVec(p).as(s"__b_$p")): _*)
    val blocks = steps.flatMap { st =>
      st.nodeProperties.map(p =>
        LinkPrediction.combine(col(s"__a_$p"), col(s"__b_$p"), st.combiner))
    }
    pairs.join(va, "src").join(vb, "dst")
      .withColumn("features", flatten(array(blocks: _*)))
      .select(pairs.columns.map(col) :+ col("features"): _*)
  }

  /** Train every candidate, select the winner on the held-out test split,
    * register the model in [[ModelCatalog]] under `modelName`. */
  def train(graph: PropertyGraph, pipelineName: String,
            modelName: String): PipelineModel = {
    val p = get(pipelineName)
    require(p.featureSteps.nonEmpty,
      s"pipeline $pipelineName has no feature steps — call addFeature first")
    val spark = graph.edges.sparkSession
    // node-property steps can be whole algorithms (FastRP, PageRank) whose
    // plans are expensive to re-evaluate; the memoized mutated vertex table
    // is read by every downstream job (both feature sides, dims probe,
    // candidate training, accuracy evals) and shared with predict
    val verts = mutatedVertices(graph, p.nodePropertySteps)
    val g = graph.copy(vertices = verts)
    val nodes = g.vertices.select("id")
    val nodeCount = nodes.count()
    val edges = g.edges.select("src", "dst").distinct()
    // scope every shuffle below to the graph's size, not the session width
    graft.core.GraphOps.withAdaptiveShuffle(spark, nodeCount) {

    // test split: holdout positives + sampled negatives; train split:
    // remaining positives + an independent negative draw (fraction 1.0
    // holdout over the remaining edges = all of them, with negatives)
    val s1 = SplitRelationships.split(edges, nodes,
      SplitRelationships.SplitConfig(p.split.testFraction,
        p.split.negativeSamplingRatio, p.split.seed, Some(nodeCount))).persist()
    val testPairs = s1.filter(col("split") === "holdout")
      .select(col("src"), col("dst"), col("label").as("y"))
    val trainPos = s1.filter(col("split") === "remaining").select("src", "dst")
    val s2 = SplitRelationships.split(trainPos, nodes,
      SplitRelationships.SplitConfig(1.0,
        p.split.negativeSamplingRatio, p.split.seed + 1L, Some(nodeCount)))
    val trainPairs = s2.filter(col("split") === "holdout")
      .select(col("src"), col("dst"), col("label").as("y"))

    val trainDf = pairFeatures(g.vertices, trainPairs, p.featureSteps).persist()
    val testDf  = pairFeatures(g.vertices, testPairs, p.featureSteps).persist()
    val dims = trainDf.select(size(col("features"))).first().getInt(0)

    // all candidates' accuracies over one scan of df (model selection reads
    // the held-out split once, not once per candidate)
    def accuracies(df: DataFrame, ms: Seq[LogisticRegression.LrModel]): Seq[Double] = {
      val oks = ms.zipWithIndex.map { case (m, i) =>
        val prob = LogisticRegression.predictProb(col("features"), m)
        sum(when((prob >= 0.5) === (col("y") === 1.0), 1L).otherwise(0L)).as(s"ok$i")
      }
      val r = df.agg(oks.head, (oks.tail :+ count(lit(1)).as("n")): _*).first()
      val n = r.getLong(ms.length)
      ms.indices.map(i => if (n == 0L) 1.0 else r.getLong(i).toDouble / n)
    }

    // one shared scan/collect for every candidate
    val trained =
      LogisticRegression.trainMany(trainDf, "features", "y", dims, p.params)
    val testAccs = accuracies(testDf, trained)
    // winner = best validation accuracy, ties -> first candidate (stable)
    val winner = testAccs.zipWithIndex.maxBy { case (a, i) => (a, -i) }._2
    val best = trained(winner)
    val out = PipelineModel(p, best, dims, winner, testAccs,
      accuracies(trainDf, Seq(best)).head, testAccs(winner))
    trainDf.unpersist(false); testDf.unpersist(false); s1.unpersist(false)
    ModelCatalog.set(modelName, out, Map(
      "pipeline" -> p.name, "winner" -> winner.toString,
      "testAccuracy" -> out.testAccuracy.toString))
    out
    }
  }

  /** Score candidate pairs on a (possibly raw) graph: node-property steps
    * replay first, then the trained feature assembly + model. Default
    * candidates = distinct 2-hop non-edges, like [[LinkPrediction.predict]]. */
  def predict(graph: PropertyGraph, modelName: String, topN: Int,
              candidates: Option[DataFrame] = None): DataFrame = {
    val m = ModelCatalog.get[PipelineModel](modelName)
    // same graph object as train -> memo hit, node-property algorithms are
    // not replayed (reference mutate-mode semantics: the properties already
    // live on the in-memory graph)
    val verts = mutatedVertices(graph, m.pipeline.nodePropertySteps)
    val g = graph.copy(vertices = verts)
    val e = g.edges.select("src", "dst")
    val cand = candidates.getOrElse {
      e.as("a").join(e.as("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
        .join(e, Seq("src", "dst"), "left_anti")
    }
    pairFeatures(g.vertices, cand, m.pipeline.featureSteps)
      .withColumn("probability",
        LogisticRegression.predictProb(col("features"), m.model))
      .select("src", "dst", "probability")
      .orderBy(col("probability").desc, col("src"), col("dst"))
      .limit(topN)
  }
}

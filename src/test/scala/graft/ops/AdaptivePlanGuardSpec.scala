package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec,
  QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions.{array, col, concat, date_add, lit, sha2, sin,
  substring}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Plan guards that only an ADAPTIVE plan can fail. [[PlanGuardSpec]] runs
  * with AQE off and no auto-broadcast, so it cannot see AQE coalescing a
  * CPU-bound stage onto one partition, nor a join over a pinned relation
  * turning into a broadcast join. This session runs Spark's defaults
  * (AQE on, 10 MB broadcast threshold) with 4 shuffle partitions, executes
  * each operator and reads the FINAL adaptive plans of every query it ran,
  * the pins it built included. */
class AdaptivePlanGuardSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val executed = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .appName("graft-adaptive-plan-guard")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executed.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Every node of a plan, through adaptive wrappers and query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other.children.flatMap(nodes)
  })

  /** The final plans of every query `body` runs, the pins it builds included. */
  private def finalPlans(body: => Unit): Seq[SparkPlan] = {
    org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
    executed.clear()
    body
    org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
    import scala.jdk.CollectionConverters._
    executed.asScala.toSeq.map(_.executedPlan)
  }

  private def render(plans: Seq[SparkPlan]): String = plans.map(_.treeString).mkString("\n")

  /** The exchange hash-partitioned on exactly the columns `keys`. */
  private def exchangeOn(plans: Seq[SparkPlan], keys: String*): ShuffleExchangeExec = {
    val found = plans.flatMap(nodes).collect {
      case s: ShuffleExchangeExec if (s.outputPartitioning match {
        case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)) == keys
        case _ => false
      }) => s
    }.distinct
    assert(found.length == 1,
      s"expected one exchange on (${keys.mkString(", ")}), got ${found.length}:\n${render(plans)}")
    found.head
  }

  // Generated fixtures: a few hundred rows, so every shuffle is a few KB and
  // AQE would coalesce each one to a single partition.

  /** 400 24-char keys in 200 families; family members differ in one char. */
  private def keys = spark.range(400).select(col("id"),
    concat(substring(sha2((col("id") % 200).cast("string"), 256), 1, 23),
      (col("id") % 7).cast("string")).as("s"))

  /** 500 nonzero 8-dim vectors over 3 input partitions. */
  private def embeddings = spark.range(500).select(col("id").as("vec_id"),
    array((1 to 8).map(j => sin((col("id") + 1) * j)): _*).as("embedding")).repartition(3)

  test("fuzzy join: the CPU-bound exchanges keep shuffle.partitions tasks under AQE") {
    val plans = finalPlans {
      graft.llm.FuzzyJoinOps.fuzzySelfJoin(keys, "id", "s", 2).collect()
    }
    // the gram-frequency window, the rank window and both band-join sides
    val cpuBound = Seq(Seq("gh"), Seq("id"), Seq("gh1", "band1"), Seq("gh2", "band2"))
      .map(k => exchangeOn(plans, k: _*))
    cpuBound.foreach { s =>
      assert(s.shuffleOrigin == REPARTITION_BY_NUM && s.numPartitions == 4,
        s"AQE coalesces an exchange it planned itself; this one must carry an " +
          s"explicit count of 4 partitions: $s\n${render(plans)}")
    }
    val coalesced = plans.flatMap(nodes).collect {
      case r: AQEShuffleReadExec if (r.child match {
        case q: ShuffleQueryStageExec => cpuBound.exists(_ eq q.shuffle)
        case _ => false
      }) => r
    }
    assert(coalesced.isEmpty, s"a shuffle read above a CPU-bound exchange:\n${render(plans)}")
    val bandJoin = plans.flatMap(nodes).collect {
      case j: SortMergeJoinExec if j.leftKeys.flatMap(_.references.map(_.name)) ==
        Seq("gh1", "band1") => j
    }
    assert(bandJoin.length == 1,
      s"the (gh, band) join must stay sort-merge:\n${render(plans)}")
  }

  /** Each join that reads a pinned relation (a `Scan ExistingRDD`), as its
    * node name, its join type and the distinct partition counts of the pins
    * on its STREAMED side (a sort-merge join streams both). */
  private def joinsOverPins(plans: Seq[SparkPlan]): Seq[(String, String, Seq[Int])] = {
    def pins(p: SparkPlan): Seq[Int] =
      nodes(p).collect { case r: RDDScanExec => r.rdd.getNumPartitions }.distinct
    plans.flatMap(nodes).distinct.flatMap[(String, String, Seq[Int], Seq[Int])] {
      case j: BroadcastHashJoinExec =>
        val streamed = if (j.buildSide == BuildLeft) j.right else j.left
        Some((j.nodeName, j.joinType.toString, pins(streamed), pins(j)))
      case j: BroadcastNestedLoopJoinExec =>
        val streamed = if (j.buildSide == BuildLeft) j.right else j.left
        Some((j.nodeName, j.joinType.toString, pins(streamed), pins(j)))
      case j: SortMergeJoinExec =>
        Some((j.nodeName, j.joinType.toString, pins(j), pins(j)))
      case _ => None
    }.collect { case (name, jt, streamed, all) if all.nonEmpty => (name, jt, streamed) }
  }

  // The pinned relation of semDedupPairs and lshNearPairs is a map-only
  // projection of the input, so it keeps the input's partitions (3 here),
  // none of them AQE-coalesced. A broadcast join that streams it therefore
  // runs with the input's parallelism, and its build side is bounded by the
  // broadcast threshold. A sort-merge hint would only add two corpus
  // shuffles, which AQE coalesces at this size anyway.

  test("semDedupPairs: the in-cluster self-join broadcasts and streams the 3-partition pin") {
    val emb = embeddings
    val cents = graft.llm.SimilarityOps.ivfTrain(emb, "vec_id", "embedding", 4, iters = 0)
    val plans = finalPlans {
      graft.llm.SimilarityOps.semDedupPairs(emb, "vec_id", "embedding", cents, 0.9).collect()
    }
    assert(joinsOverPins(plans) == Seq(("BroadcastHashJoin", "Inner", Seq(3))),
      render(plans))
  }

  test("lshNearPairs: the cap join and the bucket self-join broadcast and stream the 3-partition pin") {
    val plans = finalPlans {
      graft.llm.SimilarityOps.lshNearPairs(embeddings, "vec_id", "embedding", 8, 0.5).collect()
    }
    // the bucket self-join streams one cap join; its build side is the other
    assert(joinsOverPins(plans) == Seq(
      ("BroadcastHashJoin", "Inner", Seq(3)),
      ("BroadcastHashJoin", "Inner", Seq(3)),
      ("BroadcastHashJoin", "Inner", Seq(3))), render(plans))
  }

  test("ivfTrain: each Lloyd step broadcasts the means and the packed pinned centroids") {
    val plans = finalPlans {
      graft.llm.SimilarityOps.ivfTrain(embeddings, "vec_id", "embedding", 4, iters = 2).collect()
    }
    // the second step reads the first step's pin: the update left-joins the
    // nLists-row centroid pin to the broadcast means, and the assignment
    // cross-joins the corpus to the broadcast packed centroids (no pin on
    // its streamed side)
    assert(joinsOverPins(plans).map(j => (j._1, j._2, j._3.length)).toSet == Set(
      ("BroadcastHashJoin", "LeftOuter", 1),
      ("BroadcastNestedLoopJoin", "Cross", 0)), render(plans))
  }

  /** 3 daily series of 120 points. */
  private def backtestSeries = spark.range(120).crossJoin(spark.range(3).select(col("id").as("g")))
    .select(col("g"), date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("ds"),
      ((col("id") % 7) + col("g")).cast("double").as("y"))

  test("backtest: no join reads the pinned kernel output") {
    val plans = finalPlans {
      graft.ops.TsCvOp.backtestAutoBy(backtestSeries, "g", "ds", "y", 7, 3, "1d",
        Map("method" -> "SeasonalNaive", "seasonal_period" -> "7"), "rmse").collect()
    }
    assert(plans.flatMap(nodes).exists(_.isInstanceOf[RDDScanExec]),
      s"the backtest must read its pinned kernel output:\n${render(plans)}")
    assert(joinsOverPins(plans).isEmpty, render(plans))
  }

  test("backtest: the forecast kernel runs in one operator") {
    val plans = finalPlans {
      graft.ops.TsCvOp.backtestAutoBy(backtestSeries, "g", "ds", "y", 7, 3, "1d",
        Map("method" -> "SeasonalNaive", "seasonal_period" -> "7"), "rmse").collect()
    }
    // an explode of a named column would let Spark infer `size(c) > 0 AND
    // isnotnull(c)` and push it below the projection with the UDF call
    // substituted: the kernel would then sit in a Filter and a Project too
    val kernelOps = plans.flatMap(nodes).filter(
      _.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))).distinct
    assert(kernelOps.length == 1,
      s"the forecast UDF must be evaluated by exactly one operator:\n${render(plans)}")
  }

  test("backtest: the forecast kernel reads a REPARTITION_BY_NUM exchange, never a coalesced read") {
    val plans = finalPlans {
      graft.ops.TsCvOp.backtestAutoBy(backtestSeries, "g", "ds", "y", 7, 3, "1d",
        Map("method" -> "SeasonalNaive", "seasonal_period" -> "7"), "rmse").collect()
    }
    // the shuffle reads of the kernel's stage: AQE coalesces the few KB of
    // gathered series onto one task unless the exchange carries its count
    def reads(p: SparkPlan): Seq[SparkPlan] = p match {
      case r: AQEShuffleReadExec => Seq(r)
      case q: ShuffleQueryStageExec => Seq(q)
      case other => other.children.flatMap(reads)
    }
    val kernel = plans.flatMap(nodes).filter(
      _.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))).distinct
    assert(kernel.length == 1, render(plans))
    val inputs = reads(kernel.head)
    assert(inputs.nonEmpty && inputs.forall {
      case q: ShuffleQueryStageExec => q.shuffle.shuffleOrigin == REPARTITION_BY_NUM
      case _ => false
    }, s"the kernel must read a REPARTITION_BY_NUM exchange directly:\n${render(plans)}")
  }
}

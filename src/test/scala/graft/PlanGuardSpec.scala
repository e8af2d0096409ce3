package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guard: scale problems show up as plan smells
  * long before they show up as wall-clock at test SFs. Asserts over the
  * OPTIMIZED/physical plan of every registered batch query:
  *
  *  - no `CartesianProduct` anywhere (an unconstrained cross join at
  *    100 TB is fatal; the deliberate 1-row count cross-joins compile to
  *    BroadcastNestedLoopJoin over a broadcast singleton, which is fine
  *    and stays allowed);
  *  - the relational headliners keep their pushed filters (a filter
  *    that slides above the scan re-reads the full table).
  */
class PlanGuardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // Streaming queries RUN a stream when invoked; their batch-visible
  // plan is the memory-sink table scan, so plan-shape checks here would
  // be vacuous (their semantics are covered by StreamingSpec + oracle).
  private val skip = Set(
    "streaming_windowed_agg", "streaming_sessionize", "streaming_dedup",
    "streaming_quality_filter", "streaming_enrich",
    "streaming_countmin", "streaming_hll", "streaming_value_hist",
    "streaming_join", "streaming_anomaly", "streaming_bloom",
    "streaming_latest_state", "streaming_ams", "streaming_kmv",
    "streaming_user_state", "streaming_drift", "streaming_funnel",
    "streaming_topk",
    // trainers execute eagerly (multi-job loops), not a single plan
    "kge_transe_train", "kge_transe_train_adagrad", "kge_transe_train_adam",
    "kge_transe_train_adamw",
    "kge_distmult_train", "kge_hole_train", "kge_complex_train",
    "kge_rescal_train",
    "cp_als", "rescal_als",
    // fully driver-materialized (J×d² dictionary-sized collect); the
    // returned frame is a local relation with a trivial plan. Its
    // sibling cp_als_sweep stays CHECKED: the MTTKRP+solve plan it
    // returns is the real distributed half-sweep shape.
    "rescal_als_core",
    // runs the cached TransE training loop before the eval plan exists
    "kge_train_eval",
    // executes eagerly too (label-propagation loop of localCheckpoints);
    // the final labels frame's plan is trivial, so inspecting it here
    // would be vacuous while silently running ~20 Spark jobs (ADVICE r3)
    "dedup_components",
    // same eager label-propagation loop via components(); the canonical
    // mapping's own plan is one trivial left join over its output
    "dedup_canonical",
    // split_holdout assigns by canonical_id, so it runs the same eager
    // components() loop before its own (trivial) agg plan exists
    "split_holdout",
    // embedding-side eager label-propagation loop (SemDeDup components)
    "embed_semantic_clusters",
    // eager merge-round loop (1-row collect per round); the returned
    // frame is a local merge table with a trivial plan
    "vocab_bpe_learn")

  test("no registered query plans a CartesianProduct") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(skip)
      .flatMap { name =>
        val plan = SparkEntry.queries(name)(spark, TestSpark.sf)
          .queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
      }
    assert(offenders.isEmpty,
      s"cartesian product in: ${offenders.mkString(", ")}")
  }

  test("no unpartitioned WindowExec over an unbounded frame") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.{GlobalLimitExec, TakeOrderedAndProjectExec}

    // Flatten including the plan inside an AQE wrapper (a leaf node to
    // `collect`); cached relations stay opaque — their one window is the
    // documented 64-row dictionary-offset frame.
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.inputPlan)
      case other => other.children.flatMap(nodes)
    })
    // A window whose child top-k-limits first runs over a bounded frame
    // (Vocab.pairMerges ranks the TopK survivors). Only limits on the
    // window's DIRECT input path count: descending past a join or an
    // aggregation could credit a limit on an unrelated branch (e.g. a
    // limited dimension side of a join) whose output cardinality the
    // join/agg re-expands (ADVICE r5).
    def bounded(p: SparkPlan): Boolean = {
      import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
      import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      def walk(n: SparkPlan): Boolean = n match {
        case _: GlobalLimitExec | _: TakeOrderedAndProjectExec => true
        case _: BaseJoinExec | _: BroadcastNestedLoopJoinExec |
             _: BaseAggregateExec => false // cardinality re-expansion point
        case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
        case other => other.children.exists(walk)
      }
      walk(p)
    }
    // Documented exceptions (SURVEY §5): the 64-row bucket-offset
    // cumulative sum and the ~1e3-row relation dictionary.
    val allowedOrderCols = Set("bucket", "rel")

    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(skip)
      .flatMap { name =>
        val plan = SparkEntry.queries(name)(spark, TestSpark.sf)
          .queryExecution.executedPlan
        nodes(plan).collect {
          case w: WindowExec if w.partitionSpec.isEmpty &&
              !bounded(w.child) &&
              !w.orderSpec.flatMap(_.references.map(_.name))
                .forall(allowedOrderCols) =>
            s"$name [${w.orderSpec.map(_.sql).mkString(", ")}]"
        }
      }
    assert(offenders.isEmpty,
      s"unpartitioned window over unbounded frame in: ${offenders.mkString("; ")}")
  }

  test("no md5 generator is re-inlined inside a consuming HOF lambda " +
      "(the repeated-md5 trap, VERDICT r6 item 10)") {
    // The rule (SURVEY §5, hit in rounds 3 and 6): a hash feeding a
    // multi-element array gets its own projection FIRST. When a
    // generated md5-array column is instead referenced inside another
    // higher-order function, Catalyst's projection collapse re-inlines
    // the whole generator per consuming lambda — d md5 calls become
    // O(d²)+ at runtime (measured 75 s vs 0.7 s for a score at sf0.1).
    // Structurally that is an Md5 node nested under ≥ 2 HOF lambdas in
    // the optimized plan: md5 inside ONE transform is the intended
    // generator; md5 under two is the trap. Cache-state-independent:
    // a cached embedding frame simply contributes no md5 at all.
    import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction, Md5}
    def deepMd5(e: Expression, hofDepth: Int): Boolean = e match {
      case _: Md5 if hofDepth >= 2 => true
      case h: HigherOrderFunction =>
        (h.arguments.exists(deepMd5(_, hofDepth)) ||
          h.functions.exists(deepMd5(_, hofDepth + 1)))
      case other => other.children.exists(deepMd5(_, hofDepth))
    }
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(skip)
      .filter { name =>
        val plan = SparkEntry.queries(name)(spark, TestSpark.sf)
          .queryExecution.optimizedPlan
        plan.exists(_.expressions.exists(deepMd5(_, 0)))
      }
    assert(offenders.isEmpty,
      s"md5 re-inlined inside a consuming HOF in: ${offenders.mkString(", ")}")
  }

  test("q1_agg keeps filter pushdown and column pruning at the scan") {
    val plan = SparkEntry.queries("q1_agg")(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "shipdate filter no longer pushed to the parquet scan")
    assert(!plan.contains("l_orderkey"),
      "reading columns q1 never uses — pruning regressed")
  }
}

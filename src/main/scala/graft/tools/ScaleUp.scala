package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: synthesize a larger SF from an existing one by key-shifted
  * replication (replica r adds r·OFF to every key column), for scaling
  * smoke runs past the generated test data — e.g. an sf1 from sf0.1.
  * Dimension tables (nation, region) copy 1×; fact/event/doc tables
  * replicate with disjoint key spaces, so join fan-outs, group
  * cardinalities, and graph entity counts all scale ~linearly like a
  * real larger SF.
  *
  * Document text is PERTURBED on replicas (VERDICT r7 item 4):
  * verbatim replication made every replica pair an exact duplicate —
  * each doc gained C(10,2)=45 jaccard-1.0 partners, growing the TRUE
  * near-dup pair set 979× at 10× data, so the dedup-join bench measured
  * the corpus artifact, not the plan. Replicas now substitute tokens at
  * a pinned hash-derived rate (1 in [[PerturbMod]]): an (original,
  * replica) pair keeps shingle-Jaccard ≈ (1−p)³/(2−(1−p)³) ≈ 0.57 ≥ τ
  * (still a near-dup — realistic), while independently-perturbed
  * (replica, replica) pairs fall to ≈ 0.36 < τ=0.5 (dropped) — pair
  * counts now grow ~linearly with replicas, the realistic near-dup
  * scaling. Deterministic: the substitution is a pure function of the
  * SHIFTED doc_id and token position.
  *
  * Usage: sbt "runMain graft.tools.ScaleUp [srcDir] [dstDir] [reps]"
  */
object ScaleUp {

  private val Off = 10000000L

  /** 1-in-Mod token substitution rate on NEAR-DUP replica documents. */
  val PerturbMod = 10

  /** Near-dup cluster width cap (round 9): replicas r < NearDupReps
    * perturb at 1-in-[[PerturbMod]] and stay near-dups of the original
    * (jaccard ≈ 0.57 ≥ τ); replicas r ≥ NearDupReps perturb at 1-in-2
    * (jaccard ≈ 0.07 — independent documents). Without the cap, a 30×
    * scale-up built 30-wide near-dup clusters whose LSH CANDIDATE space
    * grows as C(width,2) per cluster — at sf3 the verification join
    * spilled past the sandbox disk. A real 3× corpus has 3× the
    * clusters at the same width, which is exactly what the cap
    * produces; sf1 (reps=10) is unchanged.
    */
  val NearDupReps = 10

  private val shifts: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "nation" -> Seq.empty,
    "region" -> Seq.empty,
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Replica-document token substitution: replica 0 is the original;
    * replicas r>0 replace token i with a hash-derived synthetic token
    * when pHash(perturb|doc_id|i) % PerturbMod == 0 (doc_id is already
    * key-shifted, so each replica perturbs different positions).
    * n_chars is recomputed so downstream quality features stay
    * consistent with the text.
    */
  private def perturbReplicas(d: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.core.PortableHash
    val ws = split(trim(col("text")), "\\s+")
    val rate = when(col("_r") < NearDupReps, lit(PerturbMod)).otherwise(lit(2))
    val sub = transform(ws, (w, i) =>
      when(PortableHash.pHash(concat_ws("|", lit("perturb"),
          col("doc_id").cast("string"), i.cast("string")))
          % rate === 0,
        concat(lit("zz"), substring(md5(concat_ws("|",
          col("doc_id").cast("string"), i.cast("string"))), 1, 6)))
      .otherwise(w))
    d.withColumn("text",
        when(col("_r") === 0L, col("text"))
          .otherwise(concat_ws(" ", sub)))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/sf1")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.core.Session.build()

    for ((t, cols) <- shifts) {
      val df = spark.read.parquet(s"$src/$t.parquet")
      val out =
        if (cols.isEmpty) df
        else {
          val rep = df
            .withColumn("_r", explode(array((0 until reps).map(r => lit(r.toLong)): _*)))
            .select(df.columns.map(c =>
              if (cols.contains(c)) (col(c) + col("_r") * Off).as(c)
              else col(c)) :+ col("_r"): _*)
          (if (t == "documents") perturbReplicas(rep) else rep).drop("_r")
        }
      out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t: ${df.count()} -> ${spark.read.parquet(s"$dst/$t.parquet").count()}")
    }
    spark.stop()
  }
}

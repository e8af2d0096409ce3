package graft.dedup

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DedupSpec extends AnyFunSuite {

  test("components: every pair endpoint gets a label, pairs share a " +
    "component, and the component is a member doc_id") {
    val spark = graft.TestSpark.spark
    import org.apache.spark.sql.functions._
    val pairs = Dedup.minhashPairs(spark, graft.TestSpark.sf)
    val comp = Dedup.components(spark, graft.TestSpark.sf)
    val n = pairs.select(explode(array(col("d1"), col("d2"))).as("doc_id"))
      .distinct()
    assert(comp.count() == n.count())
    // both endpoints of every pair map to the same component
    val c1 = comp.withColumnRenamed("doc_id", "d1")
      .withColumnRenamed("component", "comp1")
    val c2 = comp.withColumnRenamed("doc_id", "d2")
      .withColumnRenamed("component", "comp2")
    assert(pairs.join(c1, "d1").join(c2, "d2")
      .filter(col("comp1") =!= col("comp2")).isEmpty)
    // component id is itself a doc in the component (the canonical rep)
    assert(comp.filter(col("component") === col("doc_id")).count() ==
      comp.select("component").distinct().count())
  }
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("canonical mapping: fixed point, covers the corpus, shrinks it") {
    import org.apache.spark.sql.functions._
    val can = Dedup.canonical(spark, TestSpark.sf).cache()
    // total mapping over the whole corpus
    assert(can.count() ==
      graft.core.Tables.documents(spark, TestSpark.sf).count())
    // canonical ids are a FIXED POINT: the canonical of a canonical is
    // itself (they appear as doc_ids with is_canonical = true)
    val canonSelf = can.filter(col("is_canonical"))
      .select(col("doc_id").as("canonical_id"))
    assert(can.select("canonical_id").distinct()
      .join(canonSelf, Seq("canonical_id"), "left_anti").isEmpty)
    // the corpus has planted near-dups ⇒ dedup actually shrinks it
    assert(can.filter(!col("is_canonical")).count() > 0)
    can.unpersist()
  }

  test("minhash pairs all have jaccard >= tau and d1 < d2") {
    val pairs = Dedup.minhashPairs(spark, TestSpark.sf)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty, "planted near-dups should surface")
    pairs.foreach { case (d1, d2, j) =>
      assert(d1 < d2)
      assert(j >= Dedup.JaccardTau && j <= 1.0)
    }
  }

  test("simhash: near-dup pairs have hamming <= max, and are symmetric-free") {
    val pairs = Dedup.simhash(spark, TestSpark.sf)
      .as[(Long, Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (d1, d2, h) =>
      assert(d1 < d2); assert(h >= 0 && h <= Dedup.HammingMax)
    }
    assert(pairs.map(p => (p._1, p._2)).distinct.length == pairs.length)
  }

  test("exact dedup partitions all docs") {
    val out = Dedup.exact(spark, TestSpark.sf)
    val total = out.agg(org.apache.spark.sql.functions.sum("n_docs"))
      .head().getLong(0)
    assert(total == graft.core.Tables.documents(spark, TestSpark.sf).count())
  }

  test("prefix similarity join is a superset of verified LSH pairs, and " +
    "the recall report is internally consistent") {
    import org.apache.spark.sql.functions._
    val truth = Dedup.jaccardJoin(spark, TestSpark.sf).cache()
    // completeness vs the LSH pipeline: every verified MinHash pair is a
    // true pair, with the identical jaccard value
    val v = Dedup.minhashPairs(spark, TestSpark.sf)
    assert(v.join(truth, Seq("d1", "d2", "jaccard"), "left_anti").count() == 0,
      "a verified LSH pair is missing from the exact join (or jaccard drifted)")
    assert(truth.filter(col("jaccard") < Dedup.JaccardTau ||
      col("jaccard") > 1.0).count() == 0)
    val r = Dedup.lshRecall(spark, TestSpark.sf).head()
    val (nt, nc, nh) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nt == truth.count())
    assert(nh <= math.min(nt, nc))
    assert(r.getDouble(3) == nh.toDouble / nt &&
      r.getDouble(4) == nh.toDouble / nc)
    truth.unpersist()
  }

  test("ngram jaccard finds the planted within-source near-dups") {
    val pairs = Dedup.ngramJaccard(spark, TestSpark.sf)
      .select("jaccard").as[Double].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(j => j >= Dedup.NgramTau && j <= 1.0))
  }

  test("containment join equals the brute all-ordered-pairs truth, and " +
      "catches asymmetric pairs the symmetric join misses") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), array_distinct(
        transform(sequence(lit(0), size(col("ws")) - 3),
          i => concat_ws(" ", slice(col("ws"), i + 1, lit(3))))).as("sh"))
      .as[(Long, Seq[String])].collect().map(r => r._1 -> r._2.toSet).toMap
    val expect = (for {
      (a, sa) <- docs.iterator; (b, sb) <- docs
      if a != b
      c = sa.intersect(sb).size.toDouble / sa.size
      if c >= Dedup.ContainTau
    } yield (a, b, c)).toSet
    val got = Dedup.containmentJoin(spark, TestSpark.sf)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == expect, "asymmetric prefix scheme missed or invented pairs")
    assert(got.nonEmpty)
    // asymmetry: some contained→container pair must NOT hold reversed
    // (a strict-subset relation — the case Jaccard's union washes out)
    val dirs = got.map(p => (p._1, p._2))
    assert(dirs.exists(p => !dirs((p._2, p._1))),
      "expected at least one one-directional containment")
  }

  test("one session builds the pair graph and its components once; " +
      "evicting the derived tier forces a cold recompute with the same rows") {
    import graft.core.QueryMetrics.during
    def loaded(df: org.apache.spark.sql.DataFrame) =
      spark.sharedState.cacheManager
        .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)
    // Caches.clearDerived clears every DfCache not in the infra tier; the
    // two under test are cleared here one by one, as it does
    val caches = Seq(Dedup.pairsCache, Dedup.compCache)
    assert(caches.forall(_.tier == "derived"))
    def evict(): Unit = caches.foreach(_.clear())
    evict()
    graft.pipeline.CorpusClean.corpusClean(spark, TestSpark.sf).collect()
    val (pairs, pairCalls) = during(spark)(Dedup.minhashPairs(spark, TestSpark.sf))
    assert(pairCalls.jobs == 0 && loaded(pairs),
      "minhashPairs after corpusClean must serve the graph corpusClean built")
    Dedup.canonical(spark, TestSpark.sf).collect()
    val (comp, compCalls) = during(spark)(Dedup.components(spark, TestSpark.sf))
    assert(compCalls.jobs == 0, s"components after canonical: $compCalls")
    val pairRows = pairs.collect().toSet
    val compRows = comp.collect().toSet

    evict()
    assert(!loaded(pairs))
    val (comp2, coldCalls) = during(spark)(Dedup.components(spark, TestSpark.sf))
    assert(coldCalls.jobs > 0, "components after eviction did not recompute")
    val pairs2 = Dedup.minhashPairs(spark, TestSpark.sf)
    assert(loaded(pairs2), "the recomputed components read a fresh pair graph")
    assert(pairs2.collect().toSet == pairRows)
    assert(comp2.collect().toSet == compRows)
  }
}

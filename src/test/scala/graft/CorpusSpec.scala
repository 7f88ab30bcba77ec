package graft

import org.apache.spark.sql.functions._

/** Round-7 corpus-assembly operators: hash-gated stratified sampling,
  * mixture weights, and near-dup connected components. */
class CorpusSpec extends SparkSpec {

  test("stratified sample is deterministic and tracks its per-lang rate") {
    val q = SparkEntry.queries("llm_sample_stratified")
    val r1 = q(spark, sfDir).collect()
    val r2 = q(spark, sfDir).collect()
    // hash gate => bit-identical across runs (no RNG, no partition-order
    // dependence)
    assert(r1.map(_.toString).toSeq == r2.map(_.toString).toSeq)
    // every lang's realized rate is within a loose binomial band of its
    // declared permille (500-doc corpus: 4 sigma)
    val total = Tables.documents(spark, sfDir)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = r1.groupBy(_.getString(1))
    sampled.foreach { case (lang, rows) =>
      val p = rows.head.getLong(2) / 1000.0
      val n = total(lang).toDouble
      val sigma = math.sqrt(n * p * (1 - p))
      assert(math.abs(rows.length - n * p) <= 4 * sigma + 1,
        s"$lang: ${rows.length} of $n at p=$p")
    }
    // the filter is map-only: no shuffle in the plan before the sort
    val plan = q(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate"), s"sample plan aggregates:\n$plan")
  }

  test("mix weights: shares sum to ~1e6 per axis and counts are exact") {
    val rows = SparkEntry.queries("llm_mix_weights")(spark, sfDir).collect()
    assert(rows.map(_.getLong(2)).sum == 500) // n_docs covers the corpus
    val corpusShares = rows.map(_.getLong(4)).sum
    assert(math.abs(corpusShares - 1000000L) <= rows.length, // s6 rounding
      s"corpus shares sum to $corpusShares")
    rows.groupBy(_.getString(1)).foreach { case (lang, rs) =>
      val s = rs.map(_.getLong(5)).sum
      assert(math.abs(s - 1000000L) <= rs.length, s"$lang lang shares sum to $s")
    }
  }

  /** Independent reference: pairs by direct set Jaccard, components by
    * union-find (path compression, min-root union). */
  private def bruteClusters(docs: Seq[(Long, String, String)]): Seq[(Long, Long, Long)] = {
    val sets = docs.map { case (id, lang, text) => (id, lang, text.split(" ").toSet) }
    val parent = scala.collection.mutable.Map(sets.map(s => s._1 -> s._1): _*)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r)
      var c = x; while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(x: Long, y: Long): Unit = {
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
    }
    sets.groupBy(_._2).foreach { case (_, ds) =>
      val arr = ds.toIndexedSeq
      for (i <- arr.indices; j <- (i + 1) until arr.length) {
        val (a, b) = (arr(i)._3, arr(j)._3)
        val inter = (a & b).size.toDouble
        if (inter / (a | b).size >= 0.5) union(arr(i)._1, arr(j)._1)
      }
    }
    sets.map(_._1).groupBy(find)
      .map { case (root, ms) => (root, ms.length.toLong, ms.max) }
      .toSeq.sortBy(_._1)
  }

  private def clustersOf(dir: String): Seq[(Long, Long, Long)] =
    SparkEntry.queries("llm_dedup_cluster")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("dedup clusters equal an independent union-find over the exact pair graph") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(clustersOf(sfDir) == bruteClusters(docs))
  }

  test("dedup clusters: generative equality on random chain-heavy corpora") {
    // random corpora over a <=63-word vocabulary (the docMasks bound) with
    // CHAINS of near-dups — a~b~c~... where consecutive Jaccards straddle
    // 0.5 — so transitive merging (the thing a pair list alone gets wrong,
    // and the star contraction must preserve) is actually exercised
    import org.apache.spark.sql.Row
    for (seed <- Seq(7, 8, 9)) {
      val rnd = new scala.util.Random(seed)
      val vocab = (0 until 55).map(i => s"w$i")
      def randDoc(n: Int): Array[String] =
        Array.fill(n)(vocab(rnd.nextInt(vocab.size)))
      val docs = scala.collection.mutable.ArrayBuffer[(Long, String, String)]()
      var id = 0L
      for (_ <- 0 until 25) {
        val lang = Seq("aa", "bb")(rnd.nextInt(2))
        var cur = randDoc(12 + rnd.nextInt(10))
        docs += ((id, lang, cur.mkString(" "))); id += 1
        // a chain of 0-4 successive perturbations
        for (_ <- 0 until rnd.nextInt(5)) {
          val next = cur.clone()
          for (_ <- 0 until (1 + rnd.nextInt(6)))
            next(rnd.nextInt(next.length)) = vocab(rnd.nextInt(vocab.size))
          docs += ((id, lang, next.mkString(" "))); id += 1
          cur = next
        }
      }
      val dir = tempDir("graft_corpus_gen")
      val rows = docs.map { case (i, lang, text) =>
        Row(i, text, lang, "gen", text.length.toLong)
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 4), Tables.documentsSchema)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      assert(clustersOf(dir) == bruteClusters(docs.toSeq), s"seed=$seed")
    }
  }
}

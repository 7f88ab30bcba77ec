package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.{Det, Q, Tables => T}
import graft.functions.VectorExprs
import Det._

/** Training-data pipeline operators beyond SURVEY §3.10's core set (the
  * BASELINE.json north star lists dedup, similarity search, multimodal
  * columns, and text analysis as first-class): SimHash, n-gram Jaccard,
  * embedding-cosine near-dup, LSH-bucketed ANN, language-ID, quality
  * scoring, token counting, and document fingerprinting.
  */
object LlmExtras {

  /** Deterministic stopword list for the lang-id / quality heuristics —
    * high-frequency function words of the corpus vocabulary. */
  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on")
  private val StopwordsSqlList = Stopwords.map(w => s"'$w'").mkString("(", ",", ")")

  private def tokens(s: SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))

  /** Merge rounds for llm_bpe_apply (fixed K both engines; the
    * LlmBpeSpec mirror re-runs the loop as driver-side Scala). */
  private val BpeRounds = 6

  /** The BPE training loop (see the llm_bpe_apply key comment for the
    * ␟-wrapped symbol-string encoding that makes merge = REPLACE).
    * K parameterized so the spec can grade intermediate rounds. */
  private[graft] def bpeApply(s: SparkSession, d: String, k: Int): DataFrame = {
    val sep = "\u001f"
    val sep2 = sep + sep
    var v = T.documents(s, d)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("freq"))
      .select(col("lang"),
        concat(lit(sep), array_join(split(col("tok"), ""), sep2), lit(sep))
          .as("tokstr"),
        col("freq"))
      .localCheckpoint()
    val merges = collection.mutable.Buffer.empty[DataFrame]
    val wWin = Window.partitionBy("lang").orderBy(col("n").desc, col("pair"))
    for (r <- 1 to k) {
      val sdf = v.withColumn("syms",
        split(expr("substring(tokstr, 2, length(tokstr) - 2)"),
          java.util.regex.Pattern.quote(sep2)))
      val a = slice(col("syms"), lit(1), size(col("syms")) - 1)
      val b = slice(col("syms"), lit(2), size(col("syms")) - 1)
      val p = sdf.select(col("lang"), col("freq"),
        explode(transform(arrays_zip(a.as("a"), b.as("b")),
          z => concat(lit(sep), z.getField("a"), lit(sep2),
            z.getField("b"), lit(sep)))).as("pair"))
      val c = p.groupBy("lang", "pair").agg(sum("freq").as("n"))
      val w = c.withColumn("rk", row_number().over(wWin))
        .where(col("rk") === 1).select("lang", "pair", "n")
        .localCheckpoint()
      merges += w.select(col("lang"), lit(r.toLong).as("rnk"),
        regexp_replace(col("pair"), java.util.regex.Pattern.quote(sep), "")
          .as("merged"), col("n"))
      v = v.join(broadcast(w.select("lang", "pair")), Seq("lang"), "left")
        .select(col("lang"),
          when(col("pair").isNull, col("tokstr"))
            .otherwise(org.apache.spark.sql.functions.replace(col("tokstr"),
              col("pair"),
              org.apache.spark.sql.functions.replace(col("pair"), lit(sep2),
                lit("")))).as("tokstr"),
          col("freq"))
        .localCheckpoint()
    }
    val fs = v.withColumn("syms",
        split(expr("substring(tokstr, 2, length(tokstr) - 2)"),
          java.util.regex.Pattern.quote(sep2)))
      .groupBy("lang")
      .agg(sum(col("freq") * size(col("syms"))).as("final_syms"))
    merges.reduce(_ unionAll _)
      .join(broadcast(fs), "lang")
      .select(col("lang"), col("rnk"), col("merged"), col("n"), col("final_syms"))
      .orderBy("lang", "rnk")
  }

  /** llm_bpe_train's loop: TRAIN the merge table on the even-doc_id half
    * only, and in the same pass APPLY each round's picked merge to the
    * HELD-OUT odd-doc_id vocabulary — the real tokenizer workflow
    * (llm_bpe_apply trains and encodes on one corpus). Same ␟-wrapped
    * symbol-string encoding; the held-out frame never influences a pick. */
  private[graft] def bpeTrainHeldout(s: SparkSession, d: String, k: Int): DataFrame = {
    val sep = "\u001f"
    val sep2 = sep + sep
    def vocab(par: Int): DataFrame = T.documents(s, d)
      .where(col("doc_id") % 2 === par)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("freq"))
      .select(col("lang"),
        concat(lit(sep), array_join(split(col("tok"), ""), sep2), lit(sep))
          .as("tokstr"),
        col("freq"))
      .localCheckpoint()
    def symCount(frame: DataFrame, alias: String): DataFrame = frame
      .withColumn("syms",
        split(expr("substring(tokstr, 2, length(tokstr) - 2)"),
          java.util.regex.Pattern.quote(sep2)))
      .groupBy("lang")
      .agg(sum(col("freq") * size(col("syms"))).as(alias))
    var v = vocab(0)
    var h = vocab(1)
    val hs0 = symCount(h, "heldout_syms0").localCheckpoint()
    val merges = collection.mutable.Buffer.empty[DataFrame]
    val wWin = Window.partitionBy("lang").orderBy(col("n").desc, col("pair"))
    def applyMerge(frame: DataFrame, w: DataFrame): DataFrame = frame
      .join(broadcast(w.select("lang", "pair")), Seq("lang"), "left")
      .select(col("lang"),
        when(col("pair").isNull, col("tokstr"))
          .otherwise(org.apache.spark.sql.functions.replace(col("tokstr"),
            col("pair"),
            org.apache.spark.sql.functions.replace(col("pair"), lit(sep2),
              lit("")))).as("tokstr"),
        col("freq"))
      .localCheckpoint()
    for (r <- 1 to k) {
      val sdf = v.withColumn("syms",
        split(expr("substring(tokstr, 2, length(tokstr) - 2)"),
          java.util.regex.Pattern.quote(sep2)))
      val a = slice(col("syms"), lit(1), size(col("syms")) - 1)
      val b = slice(col("syms"), lit(2), size(col("syms")) - 1)
      val p = sdf.select(col("lang"), col("freq"),
        explode(transform(arrays_zip(a.as("a"), b.as("b")),
          z => concat(lit(sep), z.getField("a"), lit(sep2),
            z.getField("b"), lit(sep)))).as("pair"))
      val c = p.groupBy("lang", "pair").agg(sum("freq").as("n"))
      val w = c.withColumn("rk", row_number().over(wWin))
        .where(col("rk") === 1).select("lang", "pair", "n")
        .localCheckpoint()
      merges += w.select(col("lang"), lit(r.toLong).as("rnk"),
        regexp_replace(col("pair"), java.util.regex.Pattern.quote(sep), "")
          .as("merged"), col("n"))
      v = applyMerge(v, w)
      h = applyMerge(h, w)
    }
    val hsK = symCount(h, "heldout_symsk")
    merges.reduce(_ unionAll _)
      .join(broadcast(hs0), "lang")
      .join(broadcast(hsK), "lang")
      .select(col("lang"), col("rnk"), col("merged"), col("n"),
        col("heldout_syms0"), col("heldout_symsk"))
      .orderBy("lang", "rnk")
  }

  /** Trained-PQ geometry (round 12, VERDICT r11 item 1): M=16 subspaces
    * of 4 dims, K=16 centroids per subspace trained by R=3 Lloyd rounds
    * under the iterate-quantize discipline (llm_kmeans_lloyd's induction:
    * each round's centroids land on the mean6 grid, the next round's
    * scaled-long L2 consumes exactly those quantized doubles, so the
    * unrolled MATERIALIZED chain matches bit-for-bit). Geometry was
    * MEASURED, not guessed: on this unit-norm corpus raw ADC ranking
    * plateaus at recall@10 0.6-0.7 for every (M, K) swept — the rank-10
    * cosine gap sits below quantization noise — so the graded search is
    * ADC-shortlist(50) → exact scaled-long rerank, the ADC-R protocol of
    * [Jégou, Douze & Schmid 2011 §VII]; measured recall@10 = 0.9 at both
    * sf0.001 and sf0.01. */
  private val PqM = 16
  private val PqSub = 64 / PqM
  private val PqK = 16
  private val PqRounds = 3
  private val PqShort = 50

  /** NSW graph-ANN geometry (round 13, VERDICT r12 item 2), MEASURED on
    * this corpus like the PQ geometry above: 4 sign-LSH planes (16
    * cells) for the edge candidate pool, top-4 exact edges per node
    * within bucket ∪ Hamming-1 buckets, 2 hash shortcuts per node,
    * beam 24, 5 search rounds → hits@10 = 9/10 (sf0.01) / 8/10
    * (sf0.001) at ~310 visited; narrower beams plateau at 4-6/10 on
    * this uniform-noise corpus (swept: beam 8/16 × steps 5/6/8 ×
    * M 4/6 × entries 1/4). */
  private val NswPlanes = 4
  private val NswM = 4
  private val NswBeam = 24
  private val NswSteps = 5
  /** Corpus embedding dimensionality (TESTDATA.md; the PQ geometry's
    * 16 × 4 split already fixes the same 64). Lets the NSW sign table
    * fold into the plan as literals instead of per-element hashes.
    * AnnPropertySpec asserts every embeddings row at both graded SFs has
    * EXACTLY this many elements (ADVICE r14 #1): sdotl/sl2 fold over
    * min(array lengths), so a corpus regen to a wider dim would silently
    * project Spark-side buckets onto the first 64 dims while the DuckDB
    * oracle used LEN(embedding) — the spec makes that loud instead. */
  private[graft] val NswDims = 64
  /** Spec bounds for the geometry above, derived from the SAME sweep
    * (ADVICE r13 #3): a corpus regeneration or a change to any Nsw*
    * constant re-tunes recall/budget HERE, next to the geometry that
    * produced them, instead of flaking magic numbers in the spec.
    * MinHits10 = worst observed sweep recall − 1 safety;
    * MaxVisited ≈ beam × steps × (1 + M/2) rounded up to one slack
    * bucket beyond the ~310 measured visited. */
  private[graft] val NswMinHits10 = 7L
  private[graft] val NswMaxVisited = 400L

  /** Broadcast gate for corpus-proportional sides in the ANN family
    * (VERDICT r14 #9). Every gated frame is a projection/filter of
    * embeddings.parquet (index vectors, query-batch vectors, per-query
    * visited counts), so its broadcast cost scales with that file: the
    * gate pins the hint to the SOURCE TABLE's on-disk bytes — a plan-time
    * stat call, no job. Under the gate (graded SFs: ≤ ~0.8 MB) the plans
    * keep the measured broadcast-side joins — the round-14 lever that
    * removed the 1.3 GB pair-table shuffle; over it the hint is withheld
    * and AQE picks the strategy from runtime stats, so a 100× corpus
    * degrades to a shuffled equi-join instead of pinning an
    * index-proportional broadcast (SCALING.md "ANN broadcast gate").
    * Genuinely bounded frames — probe lists, 1-row seeds/aggregates,
    * flip/cell dictionaries, budget-bounded visited sets — keep hard
    * hints. */
  private[graft] val AnnBroadcastGateBytes = 32L << 20
  /** Recursive on-disk bytes of a parquet path. `File.length()` alone is
    * wrong for the two non-file layouts the gate must survive (ADVICE
    * r15 #1): a Spark-written parquet DIRECTORY reports ~4096 (the
    * dirent size) and a missing path reports 0 — both would read "tiny"
    * and force-broadcast the corpus-proportional side at exactly the
    * 100× scale the gate exists for. Sum regular files under the path
    * instead; a missing/empty path yields 0. */
  private[graft] def parquetBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(parquetBytes).sum).getOrElse(0L)
  /** Whether `d`'s embeddings.parquet is under the gate: the one test
    * behind [[embBcast]]'s hint and the graph-ANN keys' driver-side beam
    * search ([[BeamSearch]]). An unknown size (missing path → 0 bytes)
    * reads as over: withhold the hint and run the relational rounds. */
  private[graft] def annUnderGate(d: String): Boolean = {
    val b = parquetBytes(new java.io.File(s"$d/embeddings.parquet"))
    b > 0L && b <= AnnBroadcastGateBytes
  }
  private[graft] def embBcast(d: String)(df: DataFrame): DataFrame =
    if (annUnderGate(d)) broadcast(df) else df
  /** The same gate for corpus-derived TEXT sides (ADVICE r16 #3): the
    * unigram piece inventory is unit-TYPE-sized — sublinear in corpus
    * bytes (Heaps) but not bounded, so its forced broadcasts get the
    * embBcast discipline keyed on documents.parquet. All graded SFs are
    * ≤ 0.6 MB, so the measured plans keep their broadcasts; a 100×
    * corpus falls back to AQE-chosen joins instead of pinning a
    * vocabulary-proportional broadcast. */
  private[graft] def docBcast(d: String)(df: DataFrame): DataFrame = {
    val b = parquetBytes(new java.io.File(s"$d/documents.parquet"))
    if (b > 0L && b <= AnnBroadcastGateBytes) broadcast(df) else df
  }

  /** Per-invocation index-build materialization (round 16, REVISED): a
    * mid-build change had memoized these deterministic structures (the
    * even-id NSW bucket graph, the layered HNSW variants, the Lloyd PQ
    * codebooks) to JVM-lifetime temp parquet keyed by sfDir, with an
    * untimed Bench pre-warm — moving the build jobs out of every ANN
    * key's timed region. The optimization-round contract forbids exactly
    * that (no module-level memo of intermediates keyed on the testdata,
    * no precomputation outside the timed region), so the memo is gone:
    * every invocation re-derives its index from the parquet inputs and
    * pays the build inside its own timed region. The builds stay
    * factored here (they are shared verbatim by several keys' plans) and
    * are materialized ONCE per invocation with an eager localCheckpoint
    * — the downstream search loops join the index every round, so
    * without materialization each round would re-execute the whole
    * build subtree (the same lineage-truncation role the temp-parquet
    * scan played, now per-invocation and timed). */
  private def materializeIndex(build: => DataFrame): DataFrame =
    build.localCheckpoint()
  /** Two structures that fall out of ONE build job chain (layered graph +
    * member ranks; Lloyd codes + codebooks) — materialized together so
    * the chain runs once per invocation, not once per structure. */
  private def materializeIndexPair(
      build: => (DataFrame, DataFrame)): (DataFrame, DataFrame) = {
    val (a, b) = build
    (a.localCheckpoint(), b.localCheckpoint())
  }

  /** `vec_id`, the double-cast vector `e` the scaled-long L2 reads, and
    * the raw float `embedding` the sign buckets and cosines read. */
  private def withE(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("e"),
      col("embedding"))

  /** Cosine of two float-vector columns from scaled-long dots: every
    * ranking double derives from exact integers (sdotl), identical on
    * both engines — the llm_ann_lsh ranking law. */
  private def scaledCos(a: String, b: String): Column = {
    import graft.functions.VectorExprs.sdotl
    def dot(x: String, y: String) = sdotl(col(x), col(y)).cast("double") / lit(1e14)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** The [[NswPlanes]]-bit sign-LSH bucket of `embedding`: one scaled-long
    * dot per plane against plan-time ±1f sign arrays folded from
    * [[Det.hash32Scala]] (literals, not per-element hashes). All five
    * graph-ANN keys (llm_ann_nsw, _batch_nsw, _hnsw, _batch_hnsw,
    * _hnsw_upsert) bucket with it — the hierarchy reuses the flat rung's
    * geometry verbatim. */
  private def nswBucket: Column = {
    import graft.functions.VectorExprs.sdotl
    (0 until NswPlanes).map { p =>
      val signs = array((0 until NswDims).map(j =>
        lit(if (Det.hash32Scala(s"$p:$j") % 2 == 0) 1.0f else -1.0f)): _*)
      when(sdotl(col("embedding"), signs) > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** Top-[[NswM]] exact edges per member within its bucket ∪ Hamming-1
    * buckets, grouped by `keys` (none for a flat graph, `layer` for the
    * layered one). `sigs` holds (keys, vec_id, bucket), `emb` the
    * members' (vec_id, e). The Hamming-1 pool is a MAP-SIDE flip explode
    * (round 16 optimization, guide §2.4): bucket^f over the 1+NswPlanes
    * literal flips is exploded per row — per row the flips are distinct,
    * and the old (distinct buckets × flips → distinct → join) dictionary
    * produced exactly one (bucket, nb) pair per flip too, so the pool
    * multiset is IDENTICAL while two distinct exchanges, a crossJoin and
    * a broadcast join drop out of the build. */
  private def nswKnn(d: String, sigs: DataFrame, emb: DataFrame,
      keys: Seq[String]): DataFrame = {
    import graft.functions.VectorExprs.sl2
    val k = keys.map(col)
    val flips = array((0L +: (0 until NswPlanes).map(p => 1L << p))
      .map(f => col("bucket").bitwiseXOR(lit(f))): _*)
    val pool = sigs.select(k ++ Seq(col("vec_id").as("s"), explode(flips).as("nb")): _*)
      .join(sigs.select(k ++ Seq(col("vec_id").as("t"), col("bucket").as("nb")): _*),
        keys :+ "nb")
      .where(col("t") =!= col("s"))
      .select(k ++ Seq(col("s"), col("t")): _*)
    pool
      .join(embBcast(d)(emb.select(col("vec_id").as("s"), col("e").as("es"))), "s")
      .join(embBcast(d)(emb.select(col("vec_id").as("t"), col("e").as("et"))), "t")
      .select(k ++ Seq(col("s"), col("t"), sl2(col("es"), col("et")).as("d2")): _*)
      .withColumn("rn", row_number().over(
        Window.partitionBy(k :+ col("s"): _*).orderBy(col("d2"), col("t"))))
      .where(col("rn") <= NswM)
      .select(k ++ Seq(col("s"), col("t")): _*)
  }

  /** knn ∪ knnᵀ ∪ sc ∪ scᵀ, deduplicated: the undirected edge set. */
  private def undirected(knn: DataFrame, sc: DataFrame,
      keys: Seq[String]): DataFrame = {
    def rev(e: DataFrame) =
      e.select(keys.map(col) ++ Seq(col("t").as("s"), col("s").as("t")): _*)
    knn.unionAll(rev(knn)).unionAll(sc).unionAll(rev(sc)).distinct()
  }

  /** Flat NSW adjacency over `members` (vec_id, e, embedding), built in
    * plan per invocation: sign-LSH buckets ∪ Hamming-1 pool →
    * top-[[NswM]] exact edges ([[nswKnn]]) ∪ the 2 hash shortcuts per
    * node that `shortcuts` wires from the bucketed members, symmetrized.
    * llm_ann_nsw indexes the full corpus, llm_ann_batch_nsw the even-id
    * half. The relational beam rounds join it every round, so for them
    * it is materialized and cached; the driver-side search collects it
    * once, so there it stays lazy ([[BeamSearch]]). */
  private def nswAdj(s: SparkSession, d: String, members: DataFrame, onDriver: Boolean)(
      shortcuts: DataFrame => DataFrame): DataFrame = {
    def build = {
      val sigs = members.select(col("vec_id"), nswBucket.as("bucket"))
        .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
      undirected(nswKnn(d, sigs, members, Nil), shortcuts(sigs), Nil)
    }
    if (onDriver) build
    else materializeIndex(build)
      .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
  }

  /** The 2 small-world shortcuts per node of `src` (vec_id): target rank
    * hash32(salt||h||':'||s) % n, mapped to a vec_id by `rankToId`
    * (identity on the dense full corpus, 2·r on the even-id half). */
  private def nswShortcuts(src: DataFrame, salt: String,
      rankToId: Column => Column): DataFrame = {
    val nn = src.agg(count(lit(1)).as("n"))
    src.select(col("vec_id").as("s"))
      .select(col("s"), explode(array(lit(0L), lit(1L))).as("h"))
      .crossJoin(broadcast(nn))
      .select(col("s"), rankToId(hash32(concat(lit(salt), col("h").cast("string"),
        lit(":"), col("s").cast("string"))) % col("n")).as("t"))
      .where(col("t") =!= col("s"))
  }

  /** Layered HNSW graph over `members` (vec_id, e, embedding): the
    * geometric 'hnsw:lvl:' levels, then ONE pool/knn/shortcut pass keyed
    * by `layer` (identical edge sets to per-layer builds — the round-14
    * one-build lever), materialized together as (adjacency = (layer, s,
    * t), member ranks = (layer, vec_id, rk)). `scSalt` is the shortcut
    * hash salt — "hnsw:sc:" (llm_ann_hnsw), "bhnsw:sc:"
    * (llm_ann_batch_hnsw) or "uhnsw:sc:" (llm_ann_hnsw_upsert), each
    * key's distinct derandomized wiring. Materialized for the relational
    * beam rounds only, as [[nswAdj]]. */
  private def hnswLayers(s: SparkSession, d: String, members: DataFrame,
      scSalt: String, onDriver: Boolean): (DataFrame, DataFrame) = {
    def build = {
      val hl = hash32(concat(lit("hnsw:lvl:"), col("vec_id").cast("string")))
      val mAll = members.select(col("vec_id"), nswBucket.as("bucket"),
          when(pmod(hl, lit(16)) === 0, 2)
            .when(pmod(hl, lit(4)) === 0, 1).otherwise(0).as("l"))
        .select(col("vec_id"), col("bucket"),
          explode(sequence(lit(0), col("l"))).as("layer"))
        .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
      val knn = nswKnn(d, mAll, members, Seq("layer"))
      val ranked = mAll.select("layer", "vec_id").withColumn("rk",
        row_number().over(Window.partitionBy("layer").orderBy("vec_id"))
          .cast("long") - 1)
      val nnl = ranked.groupBy("layer").agg(count(lit(1)).as("n"))
      val sc = mAll.select(col("layer"), col("vec_id"))
        .select(col("layer"), col("vec_id"),
          explode(array(lit(0L), lit(1L))).as("h"))
        .join(broadcast(nnl), "layer")
        .select(col("layer"), col("vec_id").as("s2"),
          (hash32(concat(lit(scSalt), col("h").cast("string"), lit(":"),
            col("vec_id").cast("string"))) % col("n")).as("trk"))
        .join(ranked.select(col("layer"), col("vec_id").as("t"),
          col("rk").as("trk")), Seq("layer", "trk"))
        .where(col("t") =!= col("s2"))
        .select(col("layer"), col("s2").as("s"), col("t"))
      (undirected(knn, sc, Seq("layer")), ranked)
    }
    if (onDriver) build else materializeIndexPair(build)
  }

  /** The shared top-layer entry: the layer-2 member of rank
    * hash32(salt) % |layer 2|. */
  private def hnswEntry(ranked: DataFrame, salt: String): DataFrame = {
    val nnl = ranked.groupBy("layer").agg(count(lit(1)).as("n"))
    ranked.where(col("layer") === 2)
      .join(broadcast(nnl.where(col("layer") === 2).select(col("n"))),
        col("rk") === hash32(lit(salt)) % col("n"))
      .select(col("vec_id").as("v"))
  }

  /** Fixed-width graph beam search over an index, in one of two lowerings
    * that return the same rows.
    *
    * On the driver (`onDriver`, chosen by [[annUnderGate]]: the index,
    * the queries and every visited set are then broadcast-sized) one
    * action collects the adjacency, the members' vectors, the queries and
    * the seeds, [[LocalBeam]] runs every round in memory, and the visited
    * set comes back as a DataFrame in the relational rounds' schema.
    * The per-round cost of the relational lowering on such inputs is jobs,
    * not data: ~10 scheduler jobs a round over a few hundred rows.
    *
    * Relationally, one checkpointed frontier⋈adjacency round at a time.
    * Each round checkpoints: leaving a multi-round lineage lazy was
    * MEASURED catastrophic (llm_ann_hnsw 33 s steady vs 5 — each
    * downstream consumer re-plans and re-executes the whole un-cut walk,
    * the localCheckpoint-stats pathology class), so the per-round cut is
    * load-bearing, not optional. */
  private[graft] sealed abstract class BeamSearch(onDriver: Boolean) {
    /** The `b` visited nodes nearest the query (ties by id). */
    def nearest(vis: DataFrame, b: Int): DataFrame
    /** One round: the visited set ∪ the beam's neighbors, checkpointed. */
    def expand(vis: DataFrame, beam: DataFrame, adj: DataFrame): DataFrame
    /** The searched members (v, e). */
    protected def members: DataFrame
    /** The query vectors (qid, qe). */
    protected def queries: DataFrame
    /** `seed`'s (qid, v) pairs. */
    protected def seedPairs(seed: DataFrame): DataFrame
    /** Whether a visited node outside `members` stays visited ([[LocalBeam]]). */
    protected def keepUnscored: Boolean
    /** This search's visited frame from [[LocalBeam]]'s (qid, v, d2) rows. */
    protected def visited(rows: DataFrame): DataFrame

    def search(seed: DataFrame, adj: DataFrame, steps: Int, b: Int): DataFrame =
      if (onDriver) onDriverRun(seed, adj.select(lit(0).as("layer"), col("s"), col("t"))) {
        (k, seeds) => k.search(seeds, 0, steps, b)
      } else {
        var vis = seed
        var beam = seed
        for (_ <- 1 to steps) {
          vis = expand(vis, beam, adj)
          beam = nearest(vis, b)
        }
        vis
      }

    /** HNSW descent [Malkov & Yashunin 2018] over the layered adjacency
      * (layer, s, t): `stepsU` rounds at beam `beamU` on layers 2 and 1,
      * each lower layer seeded by the nearest node the layer above
      * visited, then `steps0` rounds at `beam0` on layer 0. Returns the
      * three layers' visited sets, unioned. Relational seeds stay lazy
      * (they fold into the next checkpointed round's job). */
    def descend(seed: DataFrame, adjAll: DataFrame, stepsU: Int,
        beamU: Int, steps0: Int, beam0: Int): DataFrame =
      if (onDriver) onDriverRun(seed, adjAll) {
        (k, seeds) => k.descend(seeds, stepsU, beamU, steps0, beam0)
      } else {
        val cached = adjAll.transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        def adjL(l: Int) = cached.where(col("layer") === l).select("s", "t")
        val v2 = search(seed, adjL(2), stepsU, beamU)
        val v1 = search(nearest(v2, 1), adjL(1), stepsU, beamU)
        val v0 = search(nearest(v1, 1), adjL(0), steps0, beam0)
        v2.unionAll(v1).unionAll(v0)
      }

    /** Collects the layered adjacency `adj` (layer, s, t), [[members]],
      * [[queries]] and `seed` in one action and runs `rounds` for each
      * seeded query, in qid order. */
    private def onDriverRun(seed: DataFrame, adj: DataFrame)(
        rounds: (LocalBeam, Array[Int]) => Array[Int]): DataFrame = {
      val vec = lit(null).cast("array<double>")
      val rows = adj.select(lit(0), col("layer").cast("long"), col("s").cast("long"),
          col("t").cast("long"), vec)
        .unionAll(members.select(lit(1), lit(0L), col("v").cast("long"), lit(0L), col("e")))
        .unionAll(queries.select(lit(2), col("qid").cast("long"), lit(0L), lit(0L), col("qe")))
        .unionAll(seedPairs(seed).select(lit(3), col("qid").cast("long"),
          col("v").cast("long"), lit(0L), vec))
        .collect()
      // every node id, numbered densely in first-seen order
      val index = mutable.LinkedHashMap.empty[Long, Int]
      def at(v: Long): Int = index.getOrElseUpdate(v, index.size)
      def vector(r: Row) = r.getSeq[Double](4).toArray
      val byTag = rows.groupBy(_.getInt(0)).withDefaultValue(Array.empty[Row])
      val edges = byTag(0).map(r => (r.getLong(1).toInt, at(r.getLong(2)), at(r.getLong(3))))
      val vecs = byTag(1).map(r => at(r.getLong(2)) -> vector(r)).toMap
      val qs = byTag(2).map(r => r.getLong(1) -> vector(r)).toMap
      val seeded = byTag(3).groupMap(_.getLong(1))(r => at(r.getLong(2))).toArray.sortBy(_._1)
      val ids = index.keys.toArray
      val memberVecs = Array.tabulate(ids.length)(vecs.getOrElse(_, null))
      val layers = edges.groupBy(_._1).map { case (l, es) =>
        val out = es.groupMap(_._2)(_._3)
        l -> Array.tabulate(ids.length)(out.getOrElse(_, Array.empty[Int]))
      }.withDefaultValue(Array.fill(ids.length)(Array.empty[Int]))
      // the queries are independent: each runs on its own core into one
      // primitive array of (qid, v, d2) triples
      val out = java.util.stream.IntStream.range(0, seeded.length).parallel().mapToObj { i =>
        val (qid, seeds) = seeded(i)
        val k = new LocalBeam(ids, layers, memberVecs, qs.getOrElse(qid, null), keepUnscored)
        rounds(k, seeds).flatMap(v => Array(qid, ids(v), k.d2(v)))
      }.toArray(new Array[Array[Long]](_))
      // An RDD of those arrays, not a local relation: the optimizer would
      // evaluate every projection and filter over a batch's ~10⁵ local
      // rows itself. The rows are built in Catalyst's form in the tasks.
      val s = seed.sparkSession
      visited(org.apache.spark.sql.GraftInternal.internalRows(s,
        s.sparkContext.parallelize(out.toSeq).flatMap(a =>
          Iterator.range(0, a.length, 3).map(i => InternalRow(a(i), a(i + 1), a(i + 2)))),
        StructType(Seq("qid", "v", "d2").map(StructField(_, LongType, nullable = false)))))
    }
  }

  /** [[BeamSearch]]'s rounds in memory, for one query `q` (null: none).
    * Nodes are numbered densely: `ids(i)` is node i's id, `adj(l)(i)` its
    * layer-`l` neighbours and `members(i)` its vector, null when i is not
    * a searched member. A node's distance is graft_sl2 of its vector and
    * `q` ([[VectorExprs.sl2]], the same integers); a node outside
    * `members` (or any node, without a query) has none and never enters a
    * beam. `keepUnscored` keeps such a node visited, as [[QueryBeam]]'s
    * semi-join does, or drops it, as [[BatchBeam]]'s inner joins do.
    * Beams rank by (d2, id), the relational `orderBy(d2, v)`. */
  private[graft] final class LocalBeam(ids: Array[Long], adj: Int => Array[Array[Int]],
      members: Array[Array[Double]], q: Array[Double], keepUnscored: Boolean) {
    private val dist = new Array[Long](ids.length)
    // 0: not yet looked at, 1: scored (dist holds its d2), 2: unscored
    private val state = new Array[Byte](ids.length)

    private def scored(i: Int): Boolean = {
      if (state(i) == 0) {
        if (members(i) != null && q != null) {
          dist(i) = VectorExprs.sl2(members(i), q)
          state(i) = 1
        } else state(i) = 2
      }
      state(i) == 1
    }
    /** Node i's d2; 0 for an unscored node. */
    def d2(i: Int): Long = if (scored(i)) dist(i) else 0L
    private def kept(i: Int) = keepUnscored || scored(i)
    private def before(a: Int, b: Int) =
      dist(a) < dist(b) || (dist(a) == dist(b) && ids(a) < ids(b))

    /** The `b` scored nodes of `nodes` nearest the query, nearest first. */
    private def nearest(nodes: Array[Int], b: Int): Array[Int] = {
      val top = new Array[Int](b)
      var k = 0
      for (c <- nodes if scored(c) && (k < b || before(c, top(b - 1)))) {
        var j = if (k < b) { k += 1; k - 1 } else b - 1
        while (j > 0 && before(c, top(j - 1))) { top(j) = top(j - 1); j -= 1 }
        top(j) = c
      }
      java.util.Arrays.copyOf(top, k)
    }

    /** `steps` rounds on layer `layer` from `seed`: the visited nodes. A
      * round's beam is picked from the last beam's pool and the nodes the
      * round added: a visited node outside that pool already had `b`
      * nearer nodes. */
    def search(seed: Array[Int], layer: Int, steps: Int, b: Int): Array[Int] = {
      val nb = adj(layer)
      val seen = new Array[Boolean](ids.length)
      val vis = mutable.ArrayBuilder.make[Int]
      var beam = seed.filter(kept)
      for (v <- beam if !seen(v)) { seen(v) = true; vis += v }
      var pool = nearest(beam.distinct, b)
      for (_ <- 1 to steps) {
        val added = for (s <- beam; t <- nb(s) if !seen(t) && kept(t)) yield { seen(t) = true; t }
        vis ++= added
        pool = nearest(pool ++ added, b)
        beam = pool
      }
      vis.result()
    }

    /** [[BeamSearch.descend]]'s three layers, their visited nodes unioned. */
    def descend(seed: Array[Int], stepsU: Int, beamU: Int, steps0: Int, beam0: Int): Array[Int] = {
      val v2 = search(seed, 2, stepsU, beamU)
      val v1 = search(nearest(v2, 1), 1, stepsU, beamU)
      val v0 = search(nearest(v1, 1), 0, steps0, beam0)
      v2 ++ v1 ++ v0
    }
  }

  /** Single-query search state: the visited set (v). `embv` holds the
    * searched members' (v, e), `qArr` the 1-row query vector (qe).
    * Query distance is VISITED-restricted (round 14, VERDICT r13 item
    * 9): instead of a cached full-corpus qd table (n sl2 evals — the
    * n-sized scratch a 100 TB index cannot afford), each beam pick
    * broadcast-semi-joins the ≤400-row visited set against the embedding
    * scan and evaluates sl2 only on the matches. Derived LAZILY from the
    * round's checkpointed visited frame, so the two jobs per round fold
    * into one — the beam recomputes inside the next round's checkpoint
    * job (deterministic total order → any recomputation yields identical
    * rows). */
  private[graft] final class QueryBeam(embv: DataFrame, qArr: DataFrame, onDriver: Boolean)
      extends BeamSearch(onDriver) {
    def nearest(vis: DataFrame, b: Int): DataFrame = {
      import graft.functions.VectorExprs.sl2
      embv.join(broadcast(vis), "v")
        .crossJoin(broadcast(qArr))
        .select(col("v"), sl2(col("e"), col("qe")).as("d2"))
        .orderBy(col("d2"), col("v"))
        .limit(b)
        .select(col("v"))
    }
    // repartition(1, v) before the distinct: the visited set is ≤ a few
    // hundred rows, so a 32-wide dedup exchange per round is pure
    // scheduler overhead (the graph_mst_boruvka single-partition-exchange
    // discipline; hash partitioning on v at ANY width satisfies the
    // dedup's distribution). Each checkpointed frame then carries one
    // partition into the next round's joins.
    def expand(vis: DataFrame, beam: DataFrame, adj: DataFrame): DataFrame =
      vis.unionAll(
          beam.join(adj, beam("v") === adj("s")).select(col("t").as("v")))
        .repartition(1, col("v"))
        .distinct()
        .localCheckpoint()

    protected def members: DataFrame = embv
    protected def queries: DataFrame = qArr.select(lit(0L).as("qid"), col("qe"))
    protected def seedPairs(seed: DataFrame): DataFrame = seed.select(lit(0L).as("qid"), col("v"))
    protected def keepUnscored: Boolean = true
    protected def visited(rows: DataFrame): DataFrame = rows.select("v")
  }

  /** Batched search state keyed by query: (qid, v, d2). `embv` holds the
    * index members' (v, e), `qv` the queries' (qid, qe). The state
    * CARRIES its query distance, so each round evaluates sl2 only on the
    * ~beam×degree EXPANSION rows instead of re-scoring the whole visited
    * set, and the beam pick is a pure per-query window over the state —
    * no joins. Seeds are [[withD2]] frames. */
  private[graft] final class BatchBeam(d: String, embv: DataFrame, qv: DataFrame,
      onDriver: Boolean) extends BeamSearch(onDriver) {
    def withD2(vdf: DataFrame): DataFrame = {
      import graft.functions.VectorExprs.sl2
      vdf.join(embBcast(d)(embv), "v")
        .join(embBcast(d)(qv), "qid")
        .select(col("qid"), col("v"), sl2(col("e"), col("qe")).as("d2"))
    }
    def nearest(vis: DataFrame, b: Int): DataFrame =
      vis.withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(col("d2"), col("v"))))
        .where(col("rn") <= b)
        .select("qid", "v", "d2")
    // ONE exchange per round (round 16 optimization, guide §2.4): the
    // state shuffles by qid once; the (qid, v) dedup — spelled as GROUP
    // BY (qid, v) MIN(d2), identical to a distinct because d2 is a
    // deterministic function of (qid, v) — and the beam-pick window both
    // run on that partitioning without their own exchanges. Round 17 A/B
    // (VERDICT r16 #4): a per-TWO-rounds checkpoint cadence was tried on
    // llm_ann_hnsw_upsert and REJECTED — AQE submits one job per exchange
    // STAGE, not per action, so the job count was unchanged (142 -> 140)
    // and steady time within noise, while the skipped round's dedup
    // aggregate executes twice under the reused exchange.
    def expand(vis: DataFrame, beam: DataFrame, adj: DataFrame): DataFrame =
      vis.unionAll(withD2(
          beam.join(adj, beam("v") === adj("s"))
            .select(beam("qid"), col("t").as("v"))))
        .repartition(col("qid"))
        .groupBy("qid", "v").agg(min(col("d2")).as("d2"))
        .localCheckpoint()

    protected def members: DataFrame = embv
    protected def queries: DataFrame = qv
    protected def seedPairs(seed: DataFrame): DataFrame = seed.select("qid", "v")
    protected def keepUnscored: Boolean = false
    protected def visited(rows: DataFrame): DataFrame = rows
  }

  /** Single-query graded finish (llm_ann_nsw, llm_ann_hnsw): the 10
    * visited candidates (`cand`: vec_id) nearest vec_id 0 by exact
    * scaled-long cosine, each with its membership in the EXACT top-10
    * and the visited budget. */
  private def queryTopTen(s: SparkSession, d: String, cand: DataFrame): DataFrame = {
    val nv = cand.agg(count(lit(1)).as("n_visited"))
    val cos = scaledCos("embedding", "qe2")
    val qRaw = T.embeddings(s, d).where(col("vec_id") === 0)
      .select(col("embedding").as("qe2"))
    val topx = T.embeddings(s, d).where(col("vec_id") =!= 0)
      .crossJoin(broadcast(qRaw))
      .withColumn("c", cos)
      .orderBy(col("c").desc, col("vec_id"))
      .limit(10)
      .select(col("vec_id"), lit(1L).as("hit"))
    T.embeddings(s, d).join(cand, "vec_id")
      .crossJoin(broadcast(qRaw))
      .withColumn("cc", cos)
      .orderBy(col("cc").desc, col("vec_id"))
      .limit(10) // global top-k FIRST; the rank window then spans 10 rows
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cc").desc, col("vec_id"))).cast("long"))
      .join(broadcast(topx), Seq("vec_id"), "left")
      .crossJoin(broadcast(nv))
      .select(col("rk"), col("vec_id"), s6(col("cc")).as("cos_sim"),
        coalesce(col("hit"), lit(0L)).as("in_exact10"), col("n_visited"))
      .orderBy("rk")
  }

  /** Batched graded finish (llm_ann_batch_nsw, llm_ann_batch_hnsw): per
    * query, the top-10 of its visited set `vis` (qid, v) by exact
    * scaled-long cosine, plus the visited budget. n_visited rides the
    * SAME window pass as the top-10 pick (round 17, guide §2.4): the
    * broadcast joins are 1:1 (every visited v is an index member, every
    * qid a query), so a full-frame count(*) over the rank window's own
    * spec equals a separate groupBy(qid) aggregate — one Window operator
    * instead of an aggregate + broadcast-join pass over the visited set. */
  private def batchTopTen(d: String, vis: DataFrame, idx: DataFrame,
      qs: DataFrame): DataFrame = {
    val wTop = Window.partitionBy("qid").orderBy(col("cc").desc, col("v"))
    vis.join(embBcast(d)(idx.select(col("vec_id").as("v"), col("embedding"))), "v")
      .join(embBcast(d)(qs.select(col("qid"), col("qemb"))), "qid")
      .withColumn("cc", scaledCos("embedding", "qemb"))
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .withColumn("n_visited", count(lit(1)).over(
        wTop.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .where(col("rk") <= 10)
      .select(col("qid").as("query_id"), col("rk"), col("v").as("vec_id"),
        s6(col("cc")).as("cos_sim"), col("n_visited"))
      .orderBy("query_id", "rk")
  }

  /** A graph-ANN key's visited set, as its beam search returns it, and
    * the key's graded frame over that set. */
  private[graft] final case class AnnRun(visited: DataFrame, graded: DataFrame)

  // The five graph-ANN keys' builders (the design of each is at its key),
  // in the beam-search lowering `onDriver` names ([[BeamSearch]]); the
  // keys pass [[annUnderGate]]. Indexes are built in-plan per invocation
  // ([[nswAdj]], [[hnswLayers]]).

  /** llm_ann_nsw: a beam search from a hash-chosen entry over the full
    * corpus's NSW graph; the query is in the graph, so expansion never
    * re-enters vec_id 0. */
  private[graft] def annNsw(s: SparkSession, d: String, onDriver: Boolean): AnnRun = {
    val emb = withE(T.embeddings(s, d))
      .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
    val adj = nswAdj(s, d, emb, onDriver)(_ => nswShortcuts(emb, "nsw:", identity))
    // the lazy broadcast n scalar (SCALING.md principle 3)
    val nn = emb.agg(count(lit(1)).as("n"))
    val qArr = emb.where(col("vec_id") === 0).select(col("e").as("qe"))
    val ent = nn.select(
      when(hash32(lit("nsw:entry:0")) % col("n") =!= 0,
        hash32(lit("nsw:entry:0")) % col("n"))
        .otherwise(hash32(lit("nsw:entry:1")) % col("n")).as("v"))
    val vis = new QueryBeam(emb.select(col("vec_id").as("v"), col("e")), qArr, onDriver)
      .search(if (onDriver) ent else ent.localCheckpoint(), adj.where(col("t") =!= 0),
        NswSteps, NswBeam)
    val cand = vis.where(col("v") =!= 0).select(col("v").as("vec_id"))
      .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
    AnnRun(vis, queryTopTen(s, d, cand))
  }

  /** llm_ann_batch_nsw: every odd vec_id searches the even-id half's NSW
    * graph (dense member ranks make shortcut and entry targets pure
    * arithmetic: member r ↔ vec_id 2r) from one shared entry. */
  private[graft] def annBatchNsw(s: SparkSession, d: String, onDriver: Boolean): AnnRun = {
    val emb = withE(T.embeddings(s, d))
      .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
    val idx = emb.where(col("vec_id") % 2 === 0)
    val qs = emb.where(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("qid"), col("e").as("qe"),
        col("embedding").as("qemb"))
      .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
    val adj = nswAdj(s, d, idx, onDriver)(nswShortcuts(_, "bnsw:sc:", lit(2) * _))
    // the lazy broadcast n scalar (the index half's cardinality)
    val nn = idx.agg(count(lit(1)).as("n"))
    val ent = nn.select(
      (lit(2) * (hash32(lit("bnsw:entry:0")) % col("n"))).as("v"))
    val beam = new BatchBeam(d, idx.select(col("vec_id").as("v"), col("e")),
      qs.select(col("qid"), col("qe")), onDriver)
    val seed = beam.withD2(qs.select(col("qid")).crossJoin(broadcast(ent)))
    val vis = beam.search(if (onDriver) seed else seed.localCheckpoint(), adj,
      BnswSteps, BnswBeam)
    AnnRun(vis, batchTopTen(d, vis, idx, qs))
  }

  /** llm_ann_hnsw: the single query's descent of the layered graph over
    * every other vector, from the shared top-layer entry. */
  private[graft] def annHnsw(s: SparkSession, d: String, onDriver: Boolean): AnnRun = {
    val emb = withE(T.embeddings(s, d).where(col("vec_id") =!= 0))
      .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
    val (adjAll, ranked) = hnswLayers(s, d, emb, "hnsw:sc:", onDriver)
    val qArr = T.embeddings(s, d).where(col("vec_id") === 0)
      .select(transform(col("embedding"), x => x.cast("double")).as("qe"))
    val vis = new QueryBeam(emb.select(col("vec_id").as("v"), col("e")), qArr, onDriver)
      .descend(hnswEntry(ranked, "hnsw:entry:0"), adjAll,
        HnswStepsU, HnswBeamU, HnswSteps0, NswBeam)
    val cand = vis.repartition(1, col("v")).distinct()
      .select(col("v").as("vec_id"))
      .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
    AnnRun(vis, queryTopTen(s, d, cand))
  }

  /** llm_ann_batch_hnsw: every odd vec_id descends the even-id half's
    * layered graph from one shared entry. Relationally every round
    * checkpoints (the hnsw lesson, re-confirmed by A/B here: fusing the
    * upper layers' two beam-1 rounds into one cut measured 15.1 s steady
    * vs ~13 — exchange reuse does not absorb the duplicated intra-layer
    * subtree across the checkpoint-free rounds; BASELINE.md round-15
    * entry). The seed stays lazy — the 1-row entry pick and the seed
    * distances fold into the first round's job. */
  private[graft] def annBatchHnsw(s: SparkSession, d: String, onDriver: Boolean): AnnRun = {
    val emb = withE(T.embeddings(s, d))
      .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
    val idx = emb.where(col("vec_id") % 2 === 0)
    val qs = emb.where(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("qid"), col("e").as("qe"),
        col("embedding").as("qemb"))
      .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
    val (adjAll, ranked) = hnswLayers(s, d, idx, "bhnsw:sc:", onDriver)
    val beam = new BatchBeam(d, idx.select(col("vec_id").as("v"), col("e")),
      qs.select(col("qid"), col("qe")), onDriver)
    val seed2 = beam.withD2(qs.select(col("qid"))
      .crossJoin(broadcast(hnswEntry(ranked, "bhnsw:entry:0"))))
    val vis = beam.descend(seed2, adjAll, BhnswStepsU, BhnswBeamU, BhnswSteps0, BnswBeam)
    // one exchange: hash(qid) serves this distinct AND the final
    // top-10/n_visited window (round 16/17, guide §2.4)
    AnnRun(vis, batchTopTen(d, vis.select("qid", "v").repartition(col("qid")).distinct(),
      idx, qs))
  }

  /** llm_ann_hnsw_upsert: every delta node descends the frozen base
    * graph, batched (llm_ann_batch_hnsw's geometry), and links to the
    * [[NswM]] nearest members of its visited set. */
  private[graft] def annHnswUpsert(s: SparkSession, d: String, onDriver: Boolean): AnnRun = {
    val emb = T.embeddings(s, d).where(col("vec_id") =!= 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"),
        (when(hash32(concat(lit("upsert:"), col("vec_id").cast("string")))
          % 4 === 0, 1L).otherwise(0L)).as("is_delta"))
      .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
    val base = emb.where(col("is_delta") === 0)
    val qs = emb.where(col("is_delta") === 1)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
      .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
    val (adjAll, ranked) = hnswLayers(s, d,
      withE(T.embeddings(s, d).where(col("vec_id") =!= 0 &&
        hash32(concat(lit("upsert:"), col("vec_id").cast("string"))) % 4 =!= 0))
        .transform(Cached(_)), // multi-consumer cache; lifecycle: Cached scaladoc
      "uhnsw:sc:", onDriver)
    val beam = new BatchBeam(d, base.select(col("vec_id").as("v"), col("e")), qs, onDriver)
    val seed2 = beam.withD2(qs.select(col("qid"))
      .crossJoin(broadcast(hnswEntry(ranked, "uhnsw:entry:0"))))
    val vis = beam.descend(seed2, adjAll, BhnswStepsU, BhnswBeamU, BhnswSteps0, BnswBeam)
    // one exchange: hash(qid) serves the (qid, v) dedup (MIN(d2) == the
    // old distinct, d2 a function of (qid, v)) AND the final
    // link/n_visited window (guide §2.4). n_visited rides the SAME window
    // pass as the link pick (round 17): a full-frame count(*) over the
    // rank window's spec equals a separate groupBy(qid) aggregate.
    val wLink = Window.partitionBy("qid").orderBy(col("d2"), col("v"))
    AnnRun(vis, vis.repartition(col("qid"))
      .groupBy("qid", "v").agg(min(col("d2")).as("d2"))
      .withColumn("rk", row_number().over(wLink).cast("long"))
      .withColumn("n_visited", count(lit(1)).over(
        wLink.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .where(col("rk") <= NswM)
      .select(col("qid").as("query_id"), col("rk"), col("v").as("vec_id"),
        col("d2"), col("n_visited"))
      .orderBy("query_id", "rk"))
  }

  // DuckDB oracle pieces of the sign-LSH and graph-ANN keys. Their only
  // arguments are the real differences between the keys (plane count,
  // CTE suffix, salt, visited-CTE name).

  /** The per-element unnest every ANN oracle starts from. */
  private val UxSql =
    "WITH ux AS (SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x, " +
      "UNNEST(RANGE(1, LEN(embedding) + 1)) AS i FROM embeddings), "

  /** The single query (vec_id 0) and its scaled-long squared norm. */
  private val QuerySql =
    "q AS (SELECT i, x AS qx FROM ux WHERE vec_id = 0), " +
      "nq AS (SELECT SUM(CAST(FLOOR(qx * qx * 1e14 + 0.5) AS BIGINT)) AS nl FROM q), "

  /** Sign-LSH over ux: the `projs` select list of `planes` scaled-long
    * projections p0.. (±1 signs from the hash32(plane:pos) parity) and
    * the bucket sum over their signs — 8 planes for llm_ann_lsh and
    * llm_ann_recall_eval, [[NswPlanes]] for the graph keys. */
  private def signSql(planes: Int): (String, String) = {
    def sgn(p: Int) =
      s"(CASE WHEN ${sqlHash32(s"CONCAT($p, ':', i - 1)")} % 2 = 0 THEN 1.0 ELSE -1.0 END)"
    ((0 until planes).map(p =>
      s"SUM(CAST(FLOOR(x * ${sgn(p)} * 1e14 + 0.5) AS BIGINT)) AS p$p").mkString(", "),
      (0 until planes).map(p =>
        s"(CASE WHEN p$p > 0 THEN ${1L << p} ELSE 0 END)").mkString(" + "))
  }

  /** Each bucket's Hamming-≤1 neighbor buckets. */
  private def nbfSql: String = {
    val flips = (0 until NswPlanes).map(p => 1L << p).mkString("[0,", ",", "]")
    "nbf AS (SELECT DISTINCT bucket, xor(bucket, f) AS nb FROM bkt, " +
      s"(SELECT CAST(UNNEST($flips) AS BIGINT) AS f) fl), "
  }

  /** pool`l` → exact d2 → top-[[NswM]] edges knn`l`. */
  private def knnSql(l: String): String =
    s"pdn$l AS MATERIALIZED (SELECT p.s, p.t, " +
      "SUM(CAST(FLOOR((a.x - b.x) * (a.x - b.x) * 1e14 + 0.5) AS BIGINT)) AS d2 " +
      s"FROM pool$l p JOIN ux a ON a.vec_id = p.s JOIN ux b ON b.vec_id = p.t AND b.i = a.i GROUP BY p.s, p.t), " +
      s"knn$l AS (SELECT s, t FROM (SELECT s, t, " +
      s"ROW_NUMBER() OVER (PARTITION BY s ORDER BY d2, t) AS rn FROM pdn$l) WHERE rn <= $NswM), "

  /** knn`l` ∪ sc`l`, both directions, deduplicated. */
  private def adjSql(l: String): String =
    s"adj$l AS MATERIALIZED (SELECT DISTINCT s, t FROM (" +
      s"SELECT s, t FROM knn$l UNION ALL SELECT t, s FROM knn$l " +
      s"UNION ALL SELECT s, t FROM sc$l UNION ALL SELECT t, s FROM sc$l))"

  /** The 'hnsw:lvl:' levels of the members in `from`. */
  private def lvlSql(from: String): String =
    "lvl AS (SELECT vec_id, CASE WHEN h % 16 = 0 THEN 2 WHEN h % 4 = 0 THEN 1 ELSE 0 END AS l " +
      "FROM (SELECT vec_id, " + sqlHash32("'hnsw:lvl:' || CAST(vec_id AS VARCHAR)") + " AS h " +
      s"FROM $from)), "

  /** Layer `l`'s graph CTEs ([[hnswLayers]] per layer, shortcut salt
    * `salt`). */
  private def layerSql(l: Int, salt: String): String =
    s"m$l AS (SELECT b.vec_id, b.bucket FROM bkt b JOIN lvl ON lvl.vec_id = b.vec_id AND lvl.l >= $l), " +
      s"pool$l AS (SELECT a.vec_id AS s, c.vec_id AS t FROM m$l a " +
      s"JOIN nbf ON nbf.bucket = a.bucket JOIN m$l c ON c.bucket = nbf.nb AND c.vec_id <> a.vec_id), " +
      knnSql(s"$l") +
      s"rkm$l AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS rk FROM m$l), " +
      s"nn$l AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM m$l), " +
      s"sc$l AS (SELECT a.vec_id AS s, r.vec_id AS t FROM (SELECT vec_id, " +
      sqlHash32(s"'$salt' || CAST(h AS VARCHAR) || ':' || CAST(vec_id AS VARCHAR)") +
      s" % (SELECT n FROM nn$l) AS trk FROM m$l, (SELECT UNNEST([0,1]) AS h) hh) a " +
      s"JOIN rkm$l r ON r.rk = a.trk WHERE r.vec_id <> a.vec_id), " +
      adjSql(s"$l")

  /** The whole layered graph over bkt: levels of the members in `from`,
    * then layers 2, 1 and 0. */
  private def layersSql(from: String, salt: String): String =
    lvlSql(from) + nbfSql +
      layerSql(2, salt) + ", " + layerSql(1, salt) + ", " + layerSql(0, salt) + ", "

  /** The flat graph's exact edges over bkt: pool → knn. */
  private def flatKnnSql: String =
    nbfSql +
      "pool AS (SELECT a.vec_id AS s, b.vec_id AS t FROM bkt a " +
      "JOIN nbf ON nbf.bucket = a.bucket JOIN bkt b ON b.bucket = nbf.nb " +
      "AND b.vec_id <> a.vec_id), " +
      knnSql("")

  /** Single-query search over `adj` from `seed`, rounds unrolled as
    * v`pfx`t/b`pfx`t; `guard` filters the expansion. */
  private def querySearchSql(pfx: String, adj: String, seed: String, steps: Int,
      beam: Int, guard: String = ""): String =
    s"v${pfx}0 AS (SELECT v FROM $seed), b${pfx}0 AS (SELECT v FROM $seed), " +
      (1 to steps).map { t =>
        s"v$pfx$t AS MATERIALIZED (SELECT DISTINCT v FROM (SELECT v FROM v$pfx${t - 1} " +
          s"UNION ALL SELECT $adj.t AS v FROM b$pfx${t - 1} b JOIN $adj ON $adj.s = b.v$guard)), " +
          s"b$pfx$t AS (SELECT v FROM (SELECT vv.v, ROW_NUMBER() OVER (ORDER BY qd.d2, vv.v) AS rn " +
          s"FROM v$pfx$t vv JOIN qd ON qd.vec_id = vv.v) WHERE rn <= $beam)"
      }.mkString(", ")

  /** Single-query finish over the visited set `cand` (vec_id): top-10 by
    * exact cosine, exact-top-10 membership, visited budget. */
  private val QueryTopTenSql =
    "nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_visited FROM cand), " +
      "cd AS (SELECT u.vec_id, " +
      "SUM(CAST(FLOOR(u.x * q.qx * 1e14 + 0.5) AS BIGINT)) AS dotl, " +
      "SUM(CAST(FLOOR(u.x * u.x * 1e14 + 0.5) AS BIGINT)) AS nl " +
      "FROM ux u JOIN q ON u.i = q.i JOIN cand c ON c.vec_id = u.vec_id GROUP BY u.vec_id), " +
      "cosd AS (SELECT vec_id, (CAST(dotl AS DOUBLE) / 1e14) / " +
      "(SQRT(CAST(nl AS DOUBLE) / 1e14) * SQRT((SELECT CAST(nl AS DOUBLE) FROM nq) / 1e14)) AS cc FROM cd), " +
      "alld AS (SELECT u.vec_id, " +
      "SUM(CAST(FLOOR(u.x * q.qx * 1e14 + 0.5) AS BIGINT)) AS dotl, " +
      "SUM(CAST(FLOOR(u.x * u.x * 1e14 + 0.5) AS BIGINT)) AS nl " +
      "FROM ux u JOIN q ON u.i = q.i WHERE u.vec_id <> 0 GROUP BY u.vec_id), " +
      "topx AS (SELECT vec_id FROM (SELECT vec_id, (CAST(dotl AS DOUBLE) / 1e14) / " +
      "(SQRT(CAST(nl AS DOUBLE) / 1e14) * SQRT((SELECT CAST(nl AS DOUBLE) FROM nq) / 1e14)) AS c " +
      "FROM alld) ORDER BY c DESC, vec_id LIMIT 10), " +
      "ranked AS (SELECT vec_id, cc, ROW_NUMBER() OVER (ORDER BY cc DESC, vec_id) AS rk FROM cosd) " +
      "SELECT CAST(rk AS BIGINT) AS rk, vec_id, " + sqlS6("cc") + " AS cos_sim, " +
      "CAST(CASE WHEN vec_id IN (SELECT vec_id FROM topx) THEN 1 ELSE 0 END AS BIGINT) AS in_exact10, " +
      "(SELECT n_visited FROM nv) AS n_visited " +
      "FROM ranked WHERE rk <= 10 ORDER BY rk"

  /** Odd-id query × even-id index distances of the batched keys. */
  private val BatchQdSql =
    "qd AS MATERIALIZED (SELECT q.vec_id AS qid, u.vec_id AS v, " +
      "SUM(CAST(FLOOR((u.x - q.x) * (u.x - q.x) * 1e14 + 0.5) AS BIGINT)) AS d2 " +
      "FROM ux u JOIN ux q ON q.i = u.i AND u.vec_id % 2 = 0 AND q.vec_id % 2 = 1 " +
      "GROUP BY qid, v), "

  /** Batched search rounds over `adj`, unrolled as v`pfx`t/b`pfx`t from
    * v`pfx`0/b`pfx`0: per-query beam state. */
  private def batchRoundsSql(pfx: String, adj: String, steps: Int, beam: Int): String =
    (1 to steps).map { t =>
      s"v$pfx$t AS MATERIALIZED (SELECT DISTINCT qid, v FROM (SELECT qid, v FROM v$pfx${t - 1} " +
        s"UNION ALL SELECT b.qid, $adj.t AS v FROM b$pfx${t - 1} b JOIN $adj ON $adj.s = b.v)), " +
        s"b$pfx$t AS (SELECT qid, v FROM (SELECT vv.qid, vv.v, " +
        "ROW_NUMBER() OVER (PARTITION BY vv.qid ORDER BY qd.d2, vv.v) AS rn " +
        s"FROM v$pfx$t vv JOIN qd ON qd.qid = vv.qid AND qd.v = vv.v) WHERE rn <= $beam)"
    }.mkString(", ")

  /** Batched HNSW descent from `seed2` (qid, v) over adj2/adj1/adj0 into
    * the visited set `cand` (qid, v). */
  private def batchDescentSql: String = {
    def layer(pfx: String, adj: String, seed: String, steps: Int, beam: Int) =
      s"v${pfx}0 AS (SELECT qid, v FROM $seed), b${pfx}0 AS (SELECT qid, v FROM $seed), " +
        batchRoundsSql(pfx, adj, steps, beam)
    def bestOf(name: String, src: String) =
      s"$name AS (SELECT qid, v FROM (SELECT vv.qid, vv.v, " +
        "ROW_NUMBER() OVER (PARTITION BY vv.qid ORDER BY qd.d2, vv.v) AS rn " +
        s"FROM $src vv JOIN qd ON qd.qid = vv.qid AND qd.v = vv.v) WHERE rn = 1)"
    layer("a", "adj2", "seed2", BhnswStepsU, BhnswBeamU) + ", " +
      bestOf("s1", s"va$BhnswStepsU") + ", " +
      layer("b", "adj1", "s1", BhnswStepsU, BhnswBeamU) + ", " +
      bestOf("s0", s"vb$BhnswStepsU") + ", " +
      layer("c", "adj0", "s0", BhnswSteps0, BnswBeam) + ", " +
      s"cand AS (SELECT DISTINCT qid, v FROM (SELECT qid, v FROM va$BhnswStepsU " +
      s"UNION ALL SELECT qid, v FROM vb$BhnswStepsU " +
      s"UNION ALL SELECT qid, v FROM vc$BhnswSteps0)), "
  }

  /** Batched finish over the visited CTE `vis` (qid, v): per-query top-10
    * by exact cosine plus the visited budget. */
  private def batchTopTenSql(vis: String): String =
    s"nvq AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_visited FROM $vis GROUP BY qid), " +
      "nrm AS (SELECT vec_id, SUM(CAST(FLOOR(x * x * 1e14 + 0.5) AS BIGINT)) AS nl " +
      "FROM ux GROUP BY vec_id), " +
      "dq AS (SELECT c.qid, c.v, SUM(CAST(FLOOR(u.x * q.x * 1e14 + 0.5) AS BIGINT)) AS dotl " +
      s"FROM $vis c JOIN ux u ON u.vec_id = c.v " +
      "JOIN ux q ON q.vec_id = c.qid AND q.i = u.i GROUP BY c.qid, c.v), " +
      "cosd AS (SELECT dq.qid, dq.v, (CAST(dq.dotl AS DOUBLE) / 1e14) / " +
      "(SQRT(CAST(ni.nl AS DOUBLE) / 1e14) * SQRT(CAST(nq2.nl AS DOUBLE) / 1e14)) AS cc " +
      "FROM dq JOIN nrm ni ON ni.vec_id = dq.v JOIN nrm nq2 ON nq2.vec_id = dq.qid) " +
      "SELECT x.qid AS query_id, CAST(x.rk AS BIGINT) AS rk, x.v AS vec_id, " +
      sqlS6("x.cc") + " AS cos_sim, nvq.n_visited " +
      "FROM (SELECT qid, v, cc, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cc DESC, v) AS rk " +
      "FROM cosd) x JOIN nvq ON nvq.qid = x.qid WHERE x.rk <= 10 ORDER BY query_id, rk"

  /** HNSW geometry (round 14, VERDICT r13 item 4) [Malkov & Yashunin
    * 2018, §4]: geometric layer assignment hash-derandomized at p=1/4
    * (level ≥ 1 iff hash%4 = 0, ≥ 2 iff hash%16 = 0, cap 2), per-layer
    * NSW graphs (bucket ∪ Hamming-1 pool, top-[[NswM]] exact edges,
    * 2 hash shortcuts per node — NSW's wiring restricted to the layer's
    * members), greedy descent with 2 rounds × beam 4 above layer 0 and
    * [[HnswSteps0]] rounds × [[NswBeam]] at layer 0. MEASURED census
    * (visited, hits@10) vs the flat NSW rung (303/8 sf0.001, 312/9
    * sf0.01): hnsw = 295/9 at sf0.001 — strictly better on BOTH axes —
    * and 301/7 at sf0.01 (the better entry point saves 11 visits and
    * trades 2 hits on this uniform-noise corpus; single-query seeds,
    * the pq_recall honesty discipline). AnnPropertySpec pins the
    * sf0.001 dominance. */
  private val HnswStepsU = 2
  private val HnswBeamU = 4
  private val HnswSteps0 = 4

  /** Batched graph-search geometry (round 14 second wave — the VERDICT
    * r13 "scale-safe alternative" named at llm_ann_nsw: beam state
    * keyed by query_id, ONE shuffle per round for ALL queries): every
    * odd vec_id searches the even-id NSW graph simultaneously from one
    * shared hash-derandomized entry, T=5 rounds × per-query beam 12.
    * MEASURED (swept prototype): mean recall@10 = 0.784 (sf0.01) /
    * 0.745 (sf0.001) at ~157/155 visited per query — vs the batched
    * IVF rung's 0.33 at a comparable budget, the adaptive-exploration
    * advantage of graph search. Beam 8 gave 0.66, beam 16 0.85 at
    * +13% budget; 12 is the knee. */
  private val BnswSteps = 5
  private val BnswBeam = 12

  /** Batched-HNSW geometry (round 15, VERDICT r14 item 3 — the missing
    * throughput×hierarchy cell): every odd vec_id descends the even-id
    * layered graph simultaneously, beam state keyed by query_id, ONE
    * frontier⋈adjacency join + one per-query window per round for the
    * whole batch — 2+2+[[BhnswSteps0]] checkpointed jobs total. Layer
    * rule = llm_ann_hnsw's hash-derandomized p=1/4 cap-2 assignment
    * restricted to the index half; upper layers walk greedily (beam 1,
    * the Malkov & Yashunin 2018 descent), layer 0 = the flat batch
    * rounds. MEASURED against llm_ann_batch_nsw on a full Python mirror
    * sweep of 22 geometries (validated bit-exact against the Spark key):
    * recall@10 0.792/0.756 vs flat 0.784/0.745 (sf0.01 / sf0.001) at
    * 157.2/155.8 visited vs 156.8/154.6 — on this uniform-noise corpus
    * (within/cross-label distances identical, FIXTURES.md) the layered
    * entry buys RECALL, not budget: every swept config with lower
    * visited lost recall (e.g. 4×12 layer-0: 0.767 at 151.6). The
    * honest claim, spec-pinned: strictly higher recall at ≤ +2
    * visited/query, both SFs. */
  private val BhnswStepsU = 2
  private val BhnswBeamU = 1
  private val BhnswSteps0 = 5

  /** The unrolled DuckDB Lloyd-PQ chain (ux → seeds → dist/asg/cent ×R →
    * q/lut/adc) shared by llm_ann_pq and llm_ann_pq_recall. Codes are
    * asg_R (assignment that DEFINES cent_R's clusters — the Lloyd output
    * convention of llm_kmeans_lloyd), LUT is over cent_R, so code→centroid
    * pairing is "cluster id → its own centroid". */
  private def pqSqlChain: String = {
    val rounds = (1 to PqRounds).map { r =>
      val centJoin =
        if (r == 1) "seeds s ON u.pos = s.pos"
        else s"(SELECT ck, pos, CAST(c6 AS DOUBLE) / 1e6 AS c FROM cent${r - 1}) s ON u.pos = s.pos"
      s"dist$r AS MATERIALIZED (SELECT u.vec_id, u.m, s.ck, " +
        "CAST(SUM(CAST(FLOOR((u.x - s.c) * (u.x - s.c) * 1e14 + 0.5) AS BIGINT)) AS BIGINT) AS d2 " +
        s"FROM ux u JOIN $centJoin GROUP BY u.vec_id, u.m, s.ck), " +
        s"asg$r AS MATERIALIZED (SELECT vec_id, m, ck FROM (SELECT vec_id, m, ck, " +
        s"ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, ck) AS rn FROM dist$r) WHERE rn = 1), " +
        s"cent$r AS MATERIALIZED (SELECT a.m, a.ck, u.pos, " + sqlMean6("u.x") + " AS c6 " +
        s"FROM ux u JOIN asg$r a ON a.vec_id = u.vec_id AND a.m = u.m GROUP BY a.m, a.ck, u.pos)"
    }.mkString(", ")
    s"ux AS (SELECT vec_id, pos, x, pos // $PqSub AS m FROM (" +
      "SELECT vec_id, UNNEST(RANGE(0, LEN(embedding))) AS pos, " +
      "CAST(UNNEST(embedding) AS DOUBLE) AS x FROM embeddings)), " +
      s"seeds AS (SELECT vec_id - 1 AS ck, pos, x AS c FROM ux WHERE vec_id BETWEEN 1 AND $PqK), " +
      rounds + ", " +
      "q AS (SELECT pos, m, x AS qx FROM ux WHERE vec_id = 0), " +
      "lut AS (SELECT c.m, c.ck, " +
      "CAST(SUM(CAST(FLOOR((CAST(c.c6 AS DOUBLE) / 1e6 - q.qx) * (CAST(c.c6 AS DOUBLE) / 1e6 - q.qx) * 1e14 + 0.5) AS BIGINT)) AS BIGINT) AS d2 " +
      s"FROM cent$PqRounds c JOIN q ON q.pos = c.pos GROUP BY c.m, c.ck), " +
      s"adc AS (SELECT a.vec_id, CAST(SUM(l.d2) AS BIGINT) AS adc14, " +
      "ARRAY_TO_STRING(LIST(CAST(a.ck AS VARCHAR) ORDER BY a.m), ',') AS pq_code " +
      s"FROM asg$PqRounds a JOIN lut l ON l.m = a.m AND l.ck = a.ck " +
      "WHERE a.vec_id <> 0 GROUP BY a.vec_id)"
  }

  /** Packed per-subspace subvector frame (vec_id, m, dvec) — the shared
    * input of both Lloyd trainings and the per-query LUT derivations. */
  private def pqSubvecs(s: SparkSession, d: String): DataFrame =
    T.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0L), lit((PqM - 1).toLong))).as("m"))
      .select(col("vec_id"), col("m"),
        transform(slice(col("embedding"),
          (col("m") * PqSub + lit(1)).cast("int"), lit(PqSub)),
          x => x.cast("double")).as("dvec"))

  /** Per-subspace Lloyd over packed subvector arrays — per round one
    * broadcast of the M·K×4 codebook, one map-only codegen'd sl2
    * assignment, one (m, ck, pos) partial agg; the textbook
    * distributed-PQ-training shape at any scale (the codebook is
    * M·K·PqSub doubles — always broadcastable). `idxFilter` selects the
    * trained population; `seedCk` maps a seed row's vec_id to its
    * initial centroid id. Returns (codes = (vec_id, m, ck), codebook =
    * (m, ck, cvec)). */
  private def pqLloyd(s: SparkSession, d: String, idxFilter: Column,
      seedLo: Long, seedHi: Long, seedCk: Column): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExprs.sl2
    val subvecs = pqSubvecs(s, d).where(idxFilter)
    val uxpos = T.embeddings(s, d).where(idxFilter)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        col("xf").cast("double").as("x"))
      .withColumn("m", expr(s"pos div $PqSub"))
    var centArr = subvecs.where(col("vec_id").between(seedLo, seedHi))
      .select(seedCk.as("ck"), col("m"), col("dvec").as("cvec"))
    var asg: DataFrame = null
    var centPacked: DataFrame = null
    for (_ <- 1 to PqRounds) {
      // argmin by (d2, ck) as a struct-min AGGREGATE (round 16
      // optimization, guide §2.3 "aggregate before you shuffle"):
      // min(struct(d2, ck)) is lexicographic — smallest d2, tie smallest
      // ck — exactly the old ROW_NUMBER() OVER (ORDER BY d2, ck) = 1
      // pick, but with map-side partial aggregation the exchange carries
      // one row per (vec_id, m) per map partition instead of the full
      // n·M·K distance table into a sort.
      asg = subvecs.join(broadcast(centArr), "m")
        .select(col("vec_id"), col("m"), col("ck"),
          sl2(col("dvec"), col("cvec")).as("d2"))
        .groupBy("vec_id", "m")
        .agg(min(struct(col("d2"), col("ck"))).as("mn"))
        .select(col("vec_id"), col("m"), col("mn").getField("ck").as("ck"))
        .localCheckpoint()
      centPacked = uxpos.join(asg, Seq("vec_id", "m"))
        .groupBy("m", "ck", "pos")
        .agg(mean6(col("x")).as("c6"))
        .groupBy("m", "ck")
        .agg(transform(array_sort(collect_list(struct(col("pos"),
          (col("c6").cast("double") / lit(1e6)).as("c")))),
          e => e.getField("c")).as("cvec"))
        .localCheckpoint()
      centArr = centPacked
    }
    (asg, centPacked)
  }

  /** Memoized full-corpus Lloyd training (llm_ann_pq family): codes +
    * codebook, seeds = vec_ids 1..K as centroids 0..K−1. */
  private[graft] def pqLloydTrained(s: SparkSession, d: String): (DataFrame, DataFrame) =
    materializeIndexPair {
      pqLloyd(s, d, lit(true), 1L, PqK.toLong, col("vec_id") - 1)
    }

  /** Memoized even-id-half Lloyd training (llm_ann_batch_pq — the
    * train/query split form): seeds = even vec_ids 2..2K. */
  private[graft] def bpqLloydTrained(s: SparkSession, d: String): (DataFrame, DataFrame) =
    materializeIndexPair {
      pqLloyd(s, d, col("vec_id") % 2 === 0, 2L, 2L * PqK,
        expr("vec_id div 2 - 1"))
    }

  /** Trained codes + the single query's LUT (the llm_ann_pq surface):
    * the Lloyd products are re-trained in-plan per invocation
    * ([[pqLloydTrained]], materialized once per call); the bounded M·K
    * LUT join is derived on top. */
  private def pqTrained(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import graft.functions.VectorExprs.sl2
    val (asg, centPacked) = pqLloydTrained(s, d)
    val qsub = pqSubvecs(s, d).where(col("vec_id") === 0)
      .select(col("m").as("qm"), col("dvec").as("qvec"))
    val lut = centPacked.join(broadcast(qsub), col("m") === col("qm"))
      .select(col("m"), col("ck"), sl2(col("cvec"), col("qvec")).as("d2"))
    (asg, lut)
  }

  /** The trained encode→LUT→ADC table: (vec_id, adc14, pq_code) for
    * every non-query vector. */
  private def pqAdc(s: SparkSession, d: String): DataFrame = {
    val (codes, lut) = pqTrained(s, d)
    codes.where(col("vec_id") =!= 0)
      .join(broadcast(lut), Seq("m", "ck"))
      .groupBy("vec_id")
      .agg(sum(col("d2")).as("adc14"),
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("m"), col("ck")))),
          e => e.getField("ck").cast("string"))).as("pq_code"))
  }

  /** EM rounds for llm_unigram_train (fixed K on both engines). */
  private[graft] val UnigramRounds = 3

  /** Unigram-LM (SentencePiece-style) tokenizer training (round 14,
    * VERDICT r13 item 5) [Kudo 2018, "Subword regularization"]: hard-EM
    * (Viterbi) over a per-unit lattice of THREE paths — whole piece,
    * split at the joiner, character fallback (always available;
    * characters are never pruned, the SentencePiece invariant) — with
    * bottom-quarter pruning of multi-character pieces each round. The
    * UNITS are adjacent token pairs joined by '_' (odd tails stay
    * single tokens) — SentencePiece's raw-text setting where pieces may
    * span word boundaries (its ▁ joiner): this corpus' closed 31-word
    * vocabulary shares NO sub-word halves (measured — midpoint splits
    * were a structurally dead lane), while pair units share their word
    * halves constantly, so phrase-vs-words-vs-chars genuinely competes
    * (sf0.01 round-3 path census: 1701/1200/334). Every likelihood is a
    * SUM of s6-floored Laplace log-probs (lnRatio(cnt+1, total+|V|) —
    * the iterate-quantize discipline of llm_bpe_train), so path
    * argmaxes are exact integer comparisons on both engines; ties
    * prefer whole > split > chars. Trained on even doc_ids; the heldout
    * odd half is segmented with the FINAL vocabulary and graded as
    * pieces-per-unit mass (held_pieces/held_words), so a vocabulary
    * that over-prunes (char-splatters the heldout text) or under-prunes
    * moves a graded integer. */
  private val UnigramNegInf = -4611686018427387904L // below any real lattice score
  private def unigramPreC = expr("substring(w, 1, instr(w, '_') - 1)")
  private def unigramSufC = expr("substring(w, instr(w, '_') + 1, len)")

  /** (lang, unit, freq, len) unit types of one doc-id-parity half —
    * adjacent token pairs joined by '_', odd tails single. */
  private def unigramUnitTypes(s: SparkSession, d: String,
      par: Int): DataFrame = T.documents(s, d)
    .where(col("doc_id") % 2 === par)
    .withColumn("toks", split(col("text"), " "))
    .select(col("lang"), explode(expr(
      "transform(sequence(1, size(toks), 2), i -> " +
        "CASE WHEN i + 1 <= size(toks) " +
        "THEN concat(element_at(toks, i), '_', element_at(toks, i + 1)) " +
        "ELSE element_at(toks, i) END)")).as("w"))
    .groupBy("lang", "w").agg(count(lit(1)).as("freq"))
    .withColumn("len", length(col("w")))
    .localCheckpoint()

  private def unigramCharMult(words: DataFrame): DataFrame = words
    .select(col("lang"), col("w"), explode(split(col("w"), "")).as("c"))
    .groupBy("lang", "w", "c").agg(count(lit(1)).as("mult"))

  /** One Viterbi E-step against `probs`, SCORED: each unit type carries
    * its three lattice path scores (whole llw / split lls / chars llc)
    * plus the integer-argmax path (ties whole > split > chars). Shared
    * by the training loop, the train key's heldout grading, and
    * llm_unigram_apply's per-unit surface. */
  private def unigramEstep(d: String, words: DataFrame, chars: DataFrame,
      probs: DataFrame): DataFrame = {
    // the piece inventory is unit-TYPE-sized (sublinear in corpus bytes,
    // not bounded) — broadcast its four projections instead of
    // sort-merge-joining each one (round 16 optimization, guide §3.1:
    // 4 shuffle pairs leave every E-step), SIZE-GATED through docBcast
    // (ADVICE r16 #3) so a corpus past the gate falls back to AQE-chosen
    // joins instead of pinning a vocabulary-proportional broadcast
    val wlp = docBcast(d)(probs.select(col("lang"), col("piece").as("w"),
      col("lp6").as("llw0")))
    val plp = docBcast(d)(probs.select(col("lang"), col("piece").as("prep"),
      col("lp6").as("lpp")))
    val slp = docBcast(d)(probs.select(col("lang"), col("piece").as("sufp"),
      col("lp6").as("lps")))
    val clp = docBcast(d)(probs.select(col("lang"), col("piece").as("c"),
      col("lp6").as("lpc")))
    val llc = chars.join(clp, Seq("lang", "c"))
      .groupBy("lang", "w").agg(sum(col("mult") * col("lpc")).as("llc"))
    words
      .join(wlp, Seq("lang", "w"), "left")
      .withColumn("prep", unigramPreC).withColumn("sufp", unigramSufC)
      .join(plp, Seq("lang", "prep"), "left")
      .join(slp, Seq("lang", "sufp"), "left")
      .join(llc, Seq("lang", "w"))
      .withColumn("llw", when(col("len") >= 2, col("llw0")))
      .withColumn("lls", when(instr(col("w"), "_") > 0, col("lpp") + col("lps")))
      .select(col("lang"), col("w"), col("freq"), col("len"),
        col("llw"), col("lls"), col("llc"),
        when(col("llw").isNotNull &&
            col("llw") >= coalesce(col("lls"), lit(UnigramNegInf)) &&
            col("llw") >= col("llc"), 0)
          .when(col("lls").isNotNull && col("lls") >= col("llc"), 1)
          .otherwise(2).as("path"))
      .localCheckpoint()
  }

  /** The k-round hard-EM training loop over the even-doc-id half;
    * returns (final piece log-probs, final surviving multi-char
    * pieces). Pure function of (sfDir, k) — llm_unigram_apply re-runs
    * it per invocation and freezes the resulting piece table. */
  private def unigramModel(s: SparkSession, d: String,
      k: Int): (DataFrame, DataFrame) = {
    val wt = unigramUnitTypes(s, d, 0)
    val ch = unigramCharMult(wt).localCheckpoint()
    val cl = ch.select("lang", "c").distinct().localCheckpoint()
    def logProbs(vocab: DataFrame): DataFrame = {
      val tot = vocab.groupBy("lang")
        .agg(sum(col("cnt")).as("total"), count(lit(1)).as("nv"))
      vocab.join(broadcast(tot), "lang")
        .select(col("lang"), col("piece"),
          s6(lnRatio(col("cnt") + 1, col("total") + col("nv"))).as("lp6"))
        .localCheckpoint()
    }
    // seed: raw inventory counts (whole for len>=2, halves for len>=4,
    // chars with multiplicity — 1-char word types live on the char path)
    val seed = wt.where(col("len") >= 2)
      .select(col("lang"), col("w").as("piece"), col("freq").as("f"))
      .unionAll(wt.where(instr(col("w"), "_") > 0)
        .select(col("lang"), unigramPreC.as("piece"), col("freq").as("f")))
      .unionAll(wt.where(instr(col("w"), "_") > 0)
        .select(col("lang"), unigramSufC.as("piece"), col("freq").as("f")))
      .unionAll(ch.join(wt.select("lang", "w", "freq"), Seq("lang", "w"))
        .select(col("lang"), col("c").as("piece"),
          (col("freq") * col("mult")).as("f")))
    var lp = logProbs(seed.groupBy("lang", "piece").agg(sum(col("f")).as("cnt")))
    var surv: DataFrame = null
    for (_ <- 1 to k) {
      val best = unigramEstep(d, wt, ch, lp)
      val cnt = best.where(col("path") === 0)
        .select(col("lang"), col("w").as("piece"), col("freq").as("f"))
        .unionAll(best.where(col("path") === 1)
          .select(col("lang"), unigramPreC.as("piece"), col("freq").as("f")))
        .unionAll(best.where(col("path") === 1)
          .select(col("lang"), unigramSufC.as("piece"), col("freq").as("f")))
        .unionAll(best.where(col("path") === 2).join(ch, Seq("lang", "w"))
          .select(col("lang"), col("c").as("piece"),
            (col("freq") * col("mult")).as("f")))
        .groupBy("lang", "piece").agg(sum(col("f")).as("cnt"))
        .localCheckpoint()
      surv = cnt.where(length(col("piece")) >= 2)
        .withColumn("rk", row_number().over(
          Window.partitionBy("lang").orderBy(col("cnt").desc, col("piece"))))
        .withColumn("nm", count(lit(1)).over(Window.partitionBy("lang")))
        .where(col("rk") <= expr("(3 * nm + 3) div 4"))
        .select("lang", "piece", "cnt")
        .localCheckpoint()
      val vocab = surv.unionAll(
        cl.join(cnt.withColumnRenamed("piece", "c"), Seq("lang", "c"), "left")
          .select(col("lang"), col("c").as("piece"),
            coalesce(col("cnt"), lit(0L)).as("cnt")))
      lp = logProbs(vocab)
    }
    (lp, surv)
  }

  /** The FROZEN final piece table for llm_unigram_apply: the train
    * loop re-runs in-plan per invocation (compute-from-inputs; the
    * result is materialized once via [[materializeIndex]] so the apply lattice
    * does not re-execute the loop), then the apply rung segments the
    * heldout half under the resulting table. */
  private[graft] def unigramLpFrozen(s: SparkSession, d: String): DataFrame =
    materializeIndex(unigramModel(s, d, UnigramRounds)._1)

  private[graft] def unigramTrainHeldout(s: SparkSession, d: String,
      k: Int): DataFrame = {
    val (lp, surv) = unigramModel(s, d, k)
    val ht = unigramUnitTypes(s, d, 1)
    val hch = unigramCharMult(ht).localCheckpoint()
    // heldout compression with the FINAL vocabulary: pieces per word
    val hb = unigramEstep(d, ht, hch, lp)
    val hh = hb.select(col("lang"), col("freq"),
        when(col("path") === 0, 1L).when(col("path") === 1, 2L)
          .otherwise(col("len").cast("long")).as("np"))
      .groupBy("lang")
      .agg(sum(col("freq") * col("np")).as("held_pieces"),
        sum(col("freq")).as("held_words"))
    surv.join(broadcast(lp), Seq("lang", "piece"))
      .join(broadcast(hh), "lang")
      .select(col("lang"), col("piece"), col("cnt"), col("lp6"),
        col("held_pieces"), col("held_words"))
      .orderBy("lang", "piece")
  }

  /** Oracle chain shared by llm_unigram_train and llm_unigram_apply:
    * unit types, the k-round EM CTEs, and the heldout lattice `hew`
    * (per-unit llw/lls/llc under the final piece table). */
  private def unigramSqlPrefix: String = {

      val negInf = "-4611686018427387904"
      def lpCte(r: Int, vv: String, t: String) =
        s"lp$r AS MATERIALIZED (SELECT v.lang, v.piece, " +
          sqlS6(sqlLnRatio("v.cnt + 1", "t.total + t.nv")) +
          s" AS lp6 FROM $vv v JOIN $t t ON t.lang = v.lang)"
      val base =
        "wt AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS freq, LEN(w) AS len FROM " +
          "(SELECT lang, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks) + 1, 2), i -> " +
          "CASE WHEN i + 1 <= LEN(toks) THEN toks[i] || '_' || toks[i + 1] ELSE toks[i] END)) AS w " +
          "FROM (SELECT lang, STRING_SPLIT(text, ' ') AS toks FROM documents WHERE doc_id % 2 = 0)) GROUP BY lang, w), " +
          "ht AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS freq, LEN(w) AS len FROM " +
          "(SELECT lang, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks) + 1, 2), i -> " +
          "CASE WHEN i + 1 <= LEN(toks) THEN toks[i] || '_' || toks[i + 1] ELSE toks[i] END)) AS w " +
          "FROM (SELECT lang, STRING_SPLIT(text, ' ') AS toks FROM documents WHERE doc_id % 2 = 1)) GROUP BY lang, w), " +
          "ch AS (SELECT lang, w, c, CAST(COUNT(*) AS BIGINT) AS mult FROM " +
          "(SELECT lang, w, UNNEST(STRING_SPLIT(w, '')) AS c FROM wt) GROUP BY lang, w, c), " +
          "hch AS (SELECT lang, w, c, CAST(COUNT(*) AS BIGINT) AS mult FROM " +
          "(SELECT lang, w, UNNEST(STRING_SPLIT(w, '')) AS c FROM ht) GROUP BY lang, w, c), " +
          "cl AS (SELECT DISTINCT lang, c FROM ch), " +
          "seed AS (SELECT lang, w AS piece, freq AS f FROM wt WHERE len >= 2 " +
          "UNION ALL SELECT lang, SUBSTRING(w, 1, STRPOS(w, '_') - 1), freq FROM wt WHERE STRPOS(w, '_') > 0 " +
          "UNION ALL SELECT lang, SUBSTRING(w, STRPOS(w, '_') + 1, len), freq FROM wt WHERE STRPOS(w, '_') > 0 " +
          "UNION ALL SELECT ch.lang, ch.c, wt.freq * ch.mult FROM ch JOIN wt ON wt.lang = ch.lang AND wt.w = ch.w), " +
          "v0 AS (SELECT lang, piece, CAST(SUM(f) AS BIGINT) AS cnt FROM seed GROUP BY lang, piece), " +
          "t0 AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS nv FROM v0 GROUP BY lang), " +
          lpCte(0, "v0", "t0")
      val rounds = (1 to UnigramRounds).map { r =>
        val p = s"lp${r - 1}"
        s"llc$r AS (SELECT ch.lang, ch.w, CAST(SUM(ch.mult * p.lp6) AS BIGINT) AS llc " +
          s"FROM ch JOIN $p p ON p.lang = ch.lang AND p.piece = ch.c GROUP BY ch.lang, ch.w), " +
          s"ew$r AS (SELECT wt.lang, wt.w, wt.freq, wt.len, " +
          "CASE WHEN wt.len >= 2 THEN wp.lp6 END AS llw, " +
          "CASE WHEN STRPOS(wt.w, '_') > 0 THEN pp.lp6 + sp.lp6 END AS lls, lc.llc AS llc " +
          s"FROM wt LEFT JOIN $p wp ON wp.lang = wt.lang AND wp.piece = wt.w " +
          s"LEFT JOIN $p pp ON pp.lang = wt.lang AND pp.piece = SUBSTRING(wt.w, 1, STRPOS(wt.w, '_') - 1) " +
          s"LEFT JOIN $p sp ON sp.lang = wt.lang AND sp.piece = SUBSTRING(wt.w, STRPOS(wt.w, '_') + 1, wt.len) " +
          s"JOIN llc$r lc ON lc.lang = wt.lang AND lc.w = wt.w), " +
          s"b$r AS (SELECT lang, w, freq, len, CASE " +
          s"WHEN llw IS NOT NULL AND llw >= COALESCE(lls, $negInf) AND llw >= llc THEN 0 " +
          s"WHEN lls IS NOT NULL AND lls >= llc THEN 1 ELSE 2 END AS path FROM ew$r), " +
          s"c$r AS (SELECT lang, piece, CAST(SUM(f) AS BIGINT) AS cnt FROM (" +
          s"SELECT lang, w AS piece, freq AS f FROM b$r WHERE path = 0 " +
          s"UNION ALL SELECT lang, SUBSTRING(w, 1, STRPOS(w, '_') - 1), freq FROM b$r WHERE path = 1 " +
          s"UNION ALL SELECT lang, SUBSTRING(w, STRPOS(w, '_') + 1, len), freq FROM b$r WHERE path = 1 " +
          s"UNION ALL SELECT b.lang, ch.c, b.freq * ch.mult FROM b$r b JOIN ch ON ch.lang = b.lang AND ch.w = b.w WHERE b.path = 2" +
          ") GROUP BY lang, piece), " +
          s"s$r AS (SELECT lang, piece, cnt FROM (SELECT lang, piece, cnt, " +
          "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, piece) AS rk, " +
          s"COUNT(*) OVER (PARTITION BY lang) AS nm FROM c$r WHERE LEN(piece) >= 2) " +
          "WHERE rk <= (3 * nm + 3) // 4), " +
          s"vv$r AS (SELECT lang, piece, cnt FROM s$r UNION ALL " +
          s"SELECT cl.lang, cl.c, CAST(COALESCE(cc.cnt, 0) AS BIGINT) FROM cl LEFT JOIN c$r cc ON cc.lang = cl.lang AND cc.piece = cl.c), " +
          s"t$r AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS nv FROM vv$r GROUP BY lang), " +
          lpCte(r, s"vv$r", s"t$r")
      }.mkString(", ")
      val kk = UnigramRounds
      s"WITH $base, $rounds, " +
        s"hllc AS (SELECT hch.lang, hch.w, CAST(SUM(hch.mult * p.lp6) AS BIGINT) AS llc " +
        s"FROM hch JOIN lp$kk p ON p.lang = hch.lang AND p.piece = hch.c GROUP BY hch.lang, hch.w), " +
        s"hew AS (SELECT ht.lang, ht.w, ht.freq, ht.len, " +
        "CASE WHEN ht.len >= 2 THEN wp.lp6 END AS llw, " +
        "CASE WHEN STRPOS(ht.w, '_') > 0 THEN pp.lp6 + sp.lp6 END AS lls, lc.llc AS llc " +
        s"FROM ht LEFT JOIN lp$kk wp ON wp.lang = ht.lang AND wp.piece = ht.w " +
        s"LEFT JOIN lp$kk pp ON pp.lang = ht.lang AND pp.piece = SUBSTRING(ht.w, 1, STRPOS(ht.w, '_') - 1) " +
        s"LEFT JOIN lp$kk sp ON sp.lang = ht.lang AND sp.piece = SUBSTRING(ht.w, STRPOS(ht.w, '_') + 1, ht.len) " +
        "JOIN hllc lc ON lc.lang = ht.lang AND lc.w = ht.w)"
  }

  val all: Seq[Q] = Seq(

    // ROUGE-1 (round 12, third wave) [Lin 2004, "ROUGE: a package for
    // automatic evaluation of summaries"] — the n-gram-overlap eval
    // metric family the corpus tooling lacked (the dedup ladder decides
    // KEEP/DROP; ROUGE scores HOW MUCH two texts share, the number
    // summarization/dedup-threshold tuning reads). Shape: per language
    // one REFERENCE document (quality rank 1 = most distinct tokens,
    // ties smallest doc_id — llm_pref_pairs' engine-exact ranking) and
    // every other doc scores against it, the candidates-vs-reference
    // contract of the real eval. Clipped unigram multiset overlap
    // o = Σ_w min(c_cand, c_ref) is pure integers; precision o/n_cand,
    // recall o/n_ref, and F1 via the EXACT identity 2o/(n_cand+n_ref)
    // (no p·r/(p+r) double chain) are one s6 divide each. Reference
    // token counts are a lang-sized broadcast dictionary; one shuffle
    // for per-doc counts, one broadcast join — document-linear at any
    // corpus size.
    Q("llm_rouge", Some(
      "WITH t AS (SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents), " +
        "q AS (SELECT doc_id, lang, COUNT(DISTINCT tok) AS nd FROM t GROUP BY doc_id, lang), " +
        "ref AS (SELECT lang, doc_id AS ref_id FROM (SELECT lang, doc_id, " +
        "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY nd DESC, doc_id) AS rn FROM q) WHERE rn = 1), " +
        "cnt AS (SELECT doc_id, lang, tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY doc_id, lang, tok), " +
        "rc AS (SELECT r.lang, c.tok, c.c AS cref FROM ref r JOIN cnt c ON c.doc_id = r.ref_id), " +
        "rn AS (SELECT lang, CAST(SUM(cref) AS BIGINT) AS n_ref FROM rc GROUP BY lang), " +
        "ov AS (SELECT c.doc_id, c.lang, " +
        "CAST(SUM(CASE WHEN c.c < rc.cref THEN c.c ELSE rc.cref END) AS BIGINT) AS o " +
        "FROM cnt c JOIN rc ON rc.lang = c.lang AND rc.tok = c.tok GROUP BY c.doc_id, c.lang), " +
        "nc AS (SELECT doc_id, lang, CAST(SUM(c) AS BIGINT) AS n_cand FROM cnt GROUP BY doc_id, lang) " +
        "SELECT nc.doc_id, nc.lang, COALESCE(ov.o, 0) AS o, nc.n_cand, rn.n_ref, " +
        sqlS6("CAST(COALESCE(ov.o, 0) AS DOUBLE) / nc.n_cand") + " AS p6, " +
        sqlS6("CAST(COALESCE(ov.o, 0) AS DOUBLE) / rn.n_ref") + " AS r6, " +
        sqlS6("2.0 * COALESCE(ov.o, 0) / (nc.n_cand + rn.n_ref)") + " AS f6 " +
        "FROM nc JOIN rn ON rn.lang = nc.lang " +
        "JOIN ref ON ref.lang = nc.lang AND nc.doc_id <> ref.ref_id " +
        "LEFT JOIN ov ON ov.doc_id = nc.doc_id " +
        "ORDER BY nc.lang, nc.doc_id"),
      (s, d) => {
        val t = T.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("tok"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val ref = t.groupBy("doc_id", "lang")
          .agg(countDistinct(col("tok")).as("nd"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("lang").orderBy(col("nd").desc, col("doc_id"))))
          .where(col("rn") === 1)
          .select(col("lang"), col("doc_id").as("ref_id"))
        val cnt = t.groupBy("doc_id", "lang", "tok").agg(count(lit(1)).as("c"))
        val rc = broadcast(ref).join(cnt,
            col("doc_id") === col("ref_id") && cnt("lang") === ref("lang"))
          .select(ref("lang"), col("tok"), col("c").as("cref"))
        val rn2 = rc.groupBy("lang").agg(sum(col("cref")).as("n_ref"))
        val ov = cnt.join(broadcast(rc), Seq("lang", "tok"))
          .groupBy("doc_id", "lang")
          .agg(sum(least(col("c"), col("cref"))).as("o"))
        val nc = cnt.groupBy("doc_id", "lang").agg(sum(col("c")).as("n_cand"))
        nc.join(broadcast(rn2), Seq("lang"))
          .join(broadcast(ref), Seq("lang"))
          .where(col("doc_id") =!= col("ref_id"))
          .join(ov, Seq("doc_id", "lang"), "left")
          .select(col("doc_id"), col("lang"),
            coalesce(col("o"), lit(0L)).as("o"), col("n_cand"), col("n_ref"),
            s6(coalesce(col("o"), lit(0L)).cast("double") /
              col("n_cand").cast("double")).as("p6"),
            s6(coalesce(col("o"), lit(0L)).cast("double") /
              col("n_ref").cast("double")).as("r6"),
            s6(lit(2.0) * coalesce(col("o"), lit(0L)).cast("double") /
              (col("n_cand") + col("n_ref")).cast("double")).as("f6"))
          .orderBy("lang", "doc_id")
      }),

    // BLEU-2 (round 12, third wave) [Papineni et al. 2002, "BLEU: a
    // method for automatic evaluation of machine translation"] — the
    // precision-side eval twin of llm_rouge, same per-language
    // candidates-vs-reference contract: clipped unigram AND bigram
    // precisions (pure integer overlaps), geometric mean via the
    // PORTABLE lnRatio/expP fixed IEEE sequences (no libm on the graded
    // surface), and the brevity penalty exp(1 − r/c) for short
    // candidates (one IEEE divide; BP exponent 0 when c ≥ r). The
    // standard zero rule applies: any zero clipped overlap zeroes the
    // score (no smoothing — the graded anchor; smoothed variants differ
    // only in the +k constants). Dictionaries broadcast,
    // document-linear at any corpus size.
    Q("llm_bleu", Some(
      "WITH t AS (SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents), " +
        "q AS (SELECT doc_id, lang, COUNT(DISTINCT tok) AS nd FROM t GROUP BY doc_id, lang), " +
        "ref AS (SELECT lang, doc_id AS ref_id FROM (SELECT lang, doc_id, " +
        "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY nd DESC, doc_id) AS rn FROM q) WHERE rn = 1), " +
        "cnt1 AS (SELECT doc_id, lang, tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY doc_id, lang, tok), " +
        "rc1 AS (SELECT r.lang, c.tok, c.c AS cref FROM ref r JOIN cnt1 c ON c.doc_id = r.ref_id), " +
        "rn1 AS (SELECT lang, CAST(SUM(cref) AS BIGINT) AS r1 FROM rc1 GROUP BY lang), " +
        "n1 AS (SELECT doc_id, lang, CAST(SUM(c) AS BIGINT) AS c1t FROM cnt1 GROUP BY doc_id, lang), " +
        "ov1 AS (SELECT c.doc_id, c.lang, " +
        "CAST(SUM(CASE WHEN c.c < rc1.cref THEN c.c ELSE rc1.cref END) AS BIGINT) AS o1 " +
        "FROM cnt1 c JOIN rc1 ON rc1.lang = c.lang AND rc1.tok = c.tok GROUP BY c.doc_id, c.lang), " +
        "bg AS (SELECT doc_id, lang, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bigram " +
        "FROM (SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS tk FROM documents) WHERE LEN(tk) >= 2), " +
        "cb AS (SELECT doc_id, lang, bigram, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY doc_id, lang, bigram), " +
        "rcb AS (SELECT r.lang, c.bigram, c.c AS cref FROM ref r JOIN cb c ON c.doc_id = r.ref_id), " +
        "nb AS (SELECT doc_id, lang, CAST(SUM(c) AS BIGINT) AS c2t FROM cb GROUP BY doc_id, lang), " +
        "ovb AS (SELECT c.doc_id, c.lang, " +
        "CAST(SUM(CASE WHEN c.c < rcb.cref THEN c.c ELSE rcb.cref END) AS BIGINT) AS o2 " +
        "FROM cb c JOIN rcb ON rcb.lang = c.lang AND rcb.bigram = c.bigram GROUP BY c.doc_id, c.lang), " +
        "base AS (SELECT n1.doc_id, n1.lang, COALESCE(ov1.o1, 0) AS o1, n1.c1t, " +
        "COALESCE(ovb.o2, 0) AS o2, COALESCE(nb.c2t, 0) AS c2t, rn1.r1 " +
        "FROM n1 JOIN rn1 ON rn1.lang = n1.lang " +
        "JOIN ref ON ref.lang = n1.lang AND n1.doc_id <> ref.ref_id " +
        "LEFT JOIN ov1 ON ov1.doc_id = n1.doc_id " +
        "LEFT JOIN nb ON nb.doc_id = n1.doc_id " +
        "LEFT JOIN ovb ON ovb.doc_id = n1.doc_id), " +
        "ex AS (SELECT *, CASE WHEN o1 = 0 OR o2 = 0 THEN NULL ELSE " +
        "((" + sqlLnRatio("o1", "c1t") + " + " + sqlLnRatio("o2", "c2t") + ") / 2.0 + " +
        "(CASE WHEN c1t >= r1 THEN 0.0 ELSE 1.0 - CAST(r1 AS DOUBLE) / CAST(c1t AS DOUBLE) END)) " +
        "END AS xx FROM base) " +
        "SELECT doc_id, lang, o1, c1t AS c1, o2, c2t AS c2, r1, " +
        "CASE WHEN xx IS NULL THEN 0 ELSE " + sqlS6(sqlExpP("xx")) + " END AS bleu6 " +
        "FROM ex ORDER BY lang, doc_id"),
      (s, d) => {
        val t = T.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("tok"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val ref = t.groupBy("doc_id", "lang")
          .agg(countDistinct(col("tok")).as("nd"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("lang").orderBy(col("nd").desc, col("doc_id"))))
          .where(col("rn") === 1)
          .select(col("lang"), col("doc_id").as("ref_id"))
        val cnt1 = t.groupBy("doc_id", "lang", "tok").agg(count(lit(1)).as("c"))
        val rc1 = broadcast(ref).join(cnt1,
            col("doc_id") === col("ref_id") && cnt1("lang") === ref("lang"))
          .select(ref("lang"), col("tok"), col("c").as("cref"))
        val rn1 = rc1.groupBy("lang").agg(sum(col("cref")).as("r1"))
        val n1 = cnt1.groupBy("doc_id", "lang").agg(sum(col("c")).as("c1t"))
        val ov1 = cnt1.join(broadcast(rc1), Seq("lang", "tok"))
          .groupBy("doc_id", "lang").agg(sum(least(col("c"), col("cref"))).as("o1"))
        val bg = TextOps.bigrams(T.documents(s, d), "doc_id", "lang")
        val cb = bg.groupBy("doc_id", "lang", "bigram").agg(count(lit(1)).as("c"))
        val rcb = broadcast(ref).join(cb,
            col("doc_id") === col("ref_id") && cb("lang") === ref("lang"))
          .select(ref("lang"), col("bigram"), col("c").as("cref"))
        val nb = cb.groupBy("doc_id", "lang").agg(sum(col("c")).as("c2t"))
        val ovb = cb.join(broadcast(rcb), Seq("lang", "bigram"))
          .groupBy("doc_id", "lang").agg(sum(least(col("c"), col("cref"))).as("o2"))
        val base = n1.join(broadcast(rn1), Seq("lang"))
          .join(broadcast(ref), Seq("lang"))
          .where(col("doc_id") =!= col("ref_id"))
          .join(ov1, Seq("doc_id", "lang"), "left")
          .join(nb, Seq("doc_id", "lang"), "left")
          .join(ovb, Seq("doc_id", "lang"), "left")
          .select(col("doc_id"), col("lang"),
            coalesce(col("o1"), lit(0L)).as("o1"), col("c1t"),
            coalesce(col("o2"), lit(0L)).as("o2"),
            coalesce(col("c2t"), lit(0L)).as("c2t"), col("r1"))
        val bp = when(col("c1t") >= col("r1"), lit(0.0))
          .otherwise(lit(1.0) - col("r1").cast("double") / col("c1t").cast("double"))
        val xx = when(col("o1") === 0 || col("o2") === 0, lit(null))
          .otherwise((lnRatio(col("o1"), col("c1t")) +
            lnRatio(col("o2"), col("c2t"))) / lit(2.0) + bp)
        base.withColumn("xx", xx)
          .select(col("doc_id"), col("lang"), col("o1"), col("c1t").as("c1"),
            col("o2"), col("c2t").as("c2"), col("r1"),
            when(col("xx").isNull, 0L).otherwise(s6(expP(col("xx")))).as("bleu6"))
          .orderBy("lang", "doc_id")
      }),

    // Cohen's kappa between two quality filters (round 12, third wave)
    // [Cohen 1960] — the filter-agreement audit a data pipeline runs
    // before swapping gates: "do my length filter and my lexical-
    // diversity filter agree BEYOND CHANCE?" (raw agreement is
    // meaningless when both filters pass ~half the corpus). Rater 1 =
    // n_chars above the language median, rater 2 = distinct-token
    // count above its median (nearest-rank-lower medians, (metric,
    // doc_id) tie order). κ via the integer identity (po−pe)/(1−pe) =
    // 2(ad−bc)/[(a+b)(b+d)+(a+c)(c+d)] — one halfUpDiv over exact
    // contingency cells, NULL when a rater is constant (the undefined-
    // κ edge). Two rank windows + one per-lang aggregate.
    Q("llm_filter_kappa", Some(
      "WITH q AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS m1, " +
        "CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT) AS m2 FROM documents), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY m1, doc_id) AS r1, " +
        "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY m2, doc_id) AS r2, " +
        "COUNT(*) OVER (PARTITION BY lang) AS n FROM q), " +
        "md AS (SELECT lang, " +
        "MIN(CASE WHEN r1 = (n - 1) // 2 + 1 THEN m1 END) AS md1, " +
        "MIN(CASE WHEN r2 = (n - 1) // 2 + 1 THEN m2 END) AS md2 FROM r GROUP BY lang), " +
        "lb AS (SELECT r.lang, CASE WHEN r.m1 > md.md1 THEN 1 ELSE 0 END AS f1, " +
        "CASE WHEN r.m2 > md.md2 THEN 1 ELSE 0 END AS f2 " +
        "FROM r JOIN md ON md.lang = r.lang), " +
        "ct AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CASE WHEN f1 = 1 AND f2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a, " +
        "CAST(SUM(CASE WHEN f1 = 1 AND f2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b, " +
        "CAST(SUM(CASE WHEN f1 = 0 AND f2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c, " +
        "CAST(SUM(CASE WHEN f1 = 0 AND f2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d " +
        "FROM lb GROUP BY lang) " +
        "SELECT lang, n, a, b, c, d, " +
        "CASE WHEN (a + b) * (b + d) + (a + c) * (c + d) = 0 THEN NULL ELSE " +
        sqlHalfUpDiv("2 * (a * d - b * c) * 1000000",
          "(a + b) * (b + d) + (a + c) * (c + d)") + " END AS kappa6 " +
        "FROM ct ORDER BY lang"),
      (s, d) => {
        val q = T.documents(s, d).select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("m1"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("m2"))
        val wL = Window.partitionBy("lang")
        val r = q
          .withColumn("r1", row_number().over(wL.orderBy("m1", "doc_id")))
          .withColumn("r2", row_number().over(wL.orderBy("m2", "doc_id")))
          .withColumn("n", count(lit(1)).over(wL))
        val md = r.groupBy("lang").agg(
          min(when(col("r1") === expr("(n - 1) div 2 + 1"), col("m1"))).as("md1"),
          min(when(col("r2") === expr("(n - 1) div 2 + 1"), col("m2"))).as("md2"))
        val lb = r.join(broadcast(md), Seq("lang"))
          .select(col("lang"),
            when(col("m1") > col("md1"), 1).otherwise(0).as("f1"),
            when(col("m2") > col("md2"), 1).otherwise(0).as("f2"))
        val ct = lb.groupBy("lang").agg(count(lit(1)).as("n"),
          sum(when(col("f1") === 1 && col("f2") === 1, 1L).otherwise(0L)).as("a"),
          sum(when(col("f1") === 1 && col("f2") === 0, 1L).otherwise(0L)).as("b"),
          sum(when(col("f1") === 0 && col("f2") === 1, 1L).otherwise(0L)).as("c"),
          sum(when(col("f1") === 0 && col("f2") === 0, 1L).otherwise(0L)).as("d"))
        val den = (col("a") + col("b")) * (col("b") + col("d")) +
          (col("a") + col("c")) * (col("c") + col("d"))
        ct.select(col("lang"), col("n"), col("a"), col("b"), col("c"), col("d"),
            when(den === 0, lit(null))
              .otherwise(halfUpDiv(
                lit(2) * (col("a") * col("d") - col("b") * col("c")) * 1000000L,
                den)).as("kappa6"))
          .orderBy("lang")
      }),

    // Interpolated Kneser-Ney bigram scoring (round 12, third wave)
    // [Kneser & Ney 1995; Chen & Goodman 1998 — THE n-gram smoothing,
    // what KenLM/CCNet actually run where llm_bigram_logprob grades
    // add-one]: P(w2|w1) = max(c12−D,0)/c1 + D·N1+(w1·)/c1 · Pcont(w2),
    // Pcont = N1+(·w2)/N1+(··), D = 3/4. The probability is kept a
    // RATIO OF INTEGERS — P = [max(4c12−3,0)·nt + 3·n1w1·nw2]/(4·c1·nt)
    // — so −ln P = lnInt(den) − lnInt(num) rides the portable fixed
    // IEEE sequence, no libm anywhere (the llm_bigram_logprob
    // discipline upgraded to the real smoother). Held-out split: the
    // model trains on hash-fold ≠ 0 docs and scores fold-0 docs, so
    // unseen bigrams (the continuation-backoff lane — fires at both
    // graded SFs, ~5% of test bigrams) grade for real. The Pcont-only
    // unseen-CONTEXT lane is STRUCTURALLY dead on this corpus (the
    // closed engine vocabulary puts every token in every split's
    // context set — MEASURED at 4/5 and 1/5 training folds), so that
    // branch is pinned by Round12OpsSpec's scalar mirror of the shared
    // formula rather than by the corpus; the OOV floor max(num,1)
    // likewise. Dictionaries broadcast (closed vocabulary); at open
    // vocabulary the same joins shuffle on the token key.
    Q("llm_kn_logprob", Some {
      "WITH t AS (SELECT doc_id, lang, tk, " +
        sqlHash32("CAST(doc_id AS VARCHAR)") + " % 5 AS fold " +
        "FROM (SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS tk FROM documents) WHERE LEN(tk) >= 2), " +
        "bg AS (SELECT doc_id, lang, fold, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tk)), " +
        "i -> tk[i] || ' ' || tk[i+1])) AS bigram FROM t), " +
        "c12 AS (SELECT lang, bigram, CAST(COUNT(*) AS BIGINT) AS c FROM bg WHERE fold <> 0 GROUP BY lang, bigram), " +
        "sp AS (SELECT lang, bigram, c, STRING_SPLIT(bigram, ' ')[1] AS w1, " +
        "STRING_SPLIT(bigram, ' ')[2] AS w2 FROM c12), " +
        "c1 AS (SELECT lang, w1, CAST(SUM(c) AS BIGINT) AS c1, " +
        "CAST(COUNT(*) AS BIGINT) AS n1w1 FROM sp GROUP BY lang, w1), " +
        "cw2 AS (SELECT lang, w2, CAST(COUNT(*) AS BIGINT) AS nw2 FROM sp GROUP BY lang, w2), " +
        "nt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nt FROM sp GROUP BY lang), " +
        "te AS (SELECT b.doc_id, b.lang, b.bigram, " +
        "STRING_SPLIT(b.bigram, ' ')[1] AS w1, STRING_SPLIT(b.bigram, ' ')[2] AS w2 " +
        "FROM bg b WHERE b.fold = 0), " +
        "j AS (SELECT te.lang, te.doc_id, c12.c AS c12, c1.c1, c1.n1w1, cw2.nw2, nt.nt " +
        "FROM te LEFT JOIN c12 ON c12.lang = te.lang AND c12.bigram = te.bigram " +
        "LEFT JOIN c1 ON c1.lang = te.lang AND c1.w1 = te.w1 " +
        "LEFT JOIN cw2 ON cw2.lang = te.lang AND cw2.w2 = te.w2 " +
        "JOIN nt ON nt.lang = te.lang), " +
        "r AS (SELECT lang, doc_id, c12, c1, " +
        "CASE WHEN c1 IS NOT NULL THEN GREATEST(" +
        "GREATEST(4 * COALESCE(c12, 0) - 3, 0) * nt + 3 * n1w1 * COALESCE(nw2, 0), 1) " +
        "ELSE GREATEST(4 * COALESCE(nw2, 0), 1) END AS num, " +
        "CASE WHEN c1 IS NOT NULL THEN 4 * c1 * nt ELSE 4 * nt END AS den FROM j) " +
        "SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_test_docs, " +
        "CAST(COUNT(*) AS BIGINT) AS n_bigrams, " +
        "CAST(SUM(CASE WHEN c12 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen, " +
        "CAST(SUM(CASE WHEN c1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ctx_unseen, " +
        "CAST(SUM(" + sqlS6("(" + sqlLnInt("den") + " - " + sqlLnInt("num") + ")") +
        ") AS BIGINT) AS sum_ce6 " +
        "FROM r GROUP BY lang ORDER BY lang"
    },
      (s, d) => {
        val t = T.documents(s, d)
          .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tk"),
            (Det.hash32(col("doc_id").cast("string")) % 5).as("fold"))
          .where(size(col("tk")) >= 2)
        val bg = t.select(col("doc_id"), col("lang"), col("fold"),
          explode(expr(
            "transform(sequence(1, size(tk) - 1), i -> concat(tk[i-1], ' ', tk[i]))"))
            .as("bigram"))
          .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        val c12 = bg.where(col("fold") =!= 0)
          .groupBy("lang", "bigram").agg(count(lit(1)).as("c"))
        val sp = c12.select(col("lang"), col("bigram"), col("c"),
          split(col("bigram"), " ").getItem(0).as("w1"),
          split(col("bigram"), " ").getItem(1).as("w2"))
          .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        val c1 = sp.groupBy("lang", "w1")
          .agg(sum(col("c")).as("c1"), count(lit(1)).as("n1w1"))
        val cw2 = sp.groupBy("lang", "w2").agg(count(lit(1)).as("nw2"))
        val nt = sp.groupBy("lang").agg(count(lit(1)).as("nt"))
        val te = bg.where(col("fold") === 0)
          .select(col("doc_id"), col("lang"), col("bigram"),
            split(col("bigram"), " ").getItem(0).as("w1"),
            split(col("bigram"), " ").getItem(1).as("w2"))
        val j = te
          .join(broadcast(c12.select(col("lang"), col("bigram"), col("c").as("c12"))),
            Seq("lang", "bigram"), "left")
          .join(broadcast(c1), Seq("lang", "w1"), "left")
          .join(broadcast(cw2), Seq("lang", "w2"), "left")
          .join(broadcast(nt), Seq("lang"))
        val num = when(col("c1").isNotNull,
          greatest(
            greatest(lit(4) * coalesce(col("c12"), lit(0L)) - 3, lit(0L)) * col("nt") +
              lit(3) * col("n1w1") * coalesce(col("nw2"), lit(0L)),
            lit(1L)))
          .otherwise(greatest(lit(4) * coalesce(col("nw2"), lit(0L)), lit(1L)))
        val den = when(col("c1").isNotNull, lit(4) * col("c1") * col("nt"))
          .otherwise(lit(4) * col("nt"))
        j.select(col("lang"), col("doc_id"), col("c12"), col("c1"),
            num.as("num"), den.as("den"))
          .groupBy("lang")
          .agg(countDistinct(col("doc_id")).as("n_test_docs"),
            count(lit(1)).as("n_bigrams"),
            sum(when(col("c12").isNull, 1L).otherwise(0L)).as("n_unseen"),
            sum(when(col("c1").isNull, 1L).otherwise(0L)).as("n_ctx_unseen"),
            sum(s6(lnInt(col("den")) - lnInt(col("num")))).as("sum_ce6"))
          .orderBy("lang")
      }),

    // Content-defined chunking (round 12, third wave) [the rsync/LBFS/
    // FastCDC rolling-boundary family — Muthitacharoen et al. 2001;
    // Xia et al. 2016]: chunk boundaries fall where the rolling 4-token
    // fingerprint hits hash ≡ 0 (mod 16), so an insertion early in a
    // document SHIFTS boundaries only locally and duplicate passages
    // re-align — the property fixed-stride chunking (llm_chunk_dedup)
    // structurally lacks, and the reason dedup/storage systems chunk
    // this way. The fingerprint is the portable Det.hash32 over the
    // 4-token shingle, so boundary placement is oracle-graded
    // bit-for-bit. Per doc: token/chunk censuses, the order-free
    // Σhash32(chunk) checksum, and n_shared = occurrences living in a
    // chunk seen in ≥2 documents (the dedup signal, via one global
    // chunk-df join). Position work is doc-bounded explode; the df
    // dictionary is chunk-count-sized.
    Q("llm_cdc_shingle", Some(
      "WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents), " +
        "pos AS (SELECT doc_id, tk[i] AS tok, i, " +
        "CASE WHEN i >= 4 AND " +
        sqlHash32("'cdc:' || ARRAY_TO_STRING(LIST_SLICE(tk, i - 3, i), ' ')") +
        " % 16 = 0 THEN 1 ELSE 0 END AS b " +
        // the index range derives from the corpus (ADVICE r11: no
        // silent fixed cap — a longer future doc must not truncate)
        "FROM t, (SELECT UNNEST(RANGE(1, (SELECT MAX(LEN(tk)) + 1 FROM t))) AS i) ix " +
        "WHERE i <= LEN(tk)), " +
        "sg AS (SELECT doc_id, tok, i, " +
        "COALESCE(CAST(SUM(b) OVER (PARTITION BY doc_id ORDER BY i " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS seg FROM pos), " +
        "ck AS (SELECT doc_id, seg, CAST(COUNT(*) AS BIGINT) AS ctoks, " +
        sqlHash32("'ck:' || STRING_AGG(tok, ' ' ORDER BY i)") + " AS ch " +
        "FROM sg GROUP BY doc_id, seg), " +
        "df AS (SELECT ch, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d FROM ck GROUP BY ch) " +
        "SELECT ck.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks, " +
        "CAST(SUM(ck.ctoks) AS BIGINT) AS n_tok, " +
        "CAST(SUM(ck.ch) AS BIGINT) AS checksum, " +
        "CAST(SUM(CASE WHEN df.d >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared " +
        "FROM ck JOIN df ON df.ch = ck.ch " +
        "GROUP BY ck.doc_id ORDER BY ck.doc_id"),
      (s, d) => {
        val pos = T.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
          .select(col("doc_id"), col("tk"),
            posexplode(col("tk")).as(Seq("p0", "tok")))
          .select(col("doc_id"), col("tok"), (col("p0") + 1).as("i"),
            when(col("p0") + 1 >= 4 &&
              // greatest-clamp: the i>=4 guard already excludes these
              // rows, but Spark may evaluate the branch eagerly and
              // slice rejects start 0
              hash32(concat(lit("cdc:"),
                concat_ws(" ", slice(col("tk"),
                  greatest(col("p0") - 2, lit(1)), lit(4))))) % 16 === 0,
              1L).otherwise(0L).as("b"))
        val w = Window.partitionBy("doc_id").orderBy("i")
          .rowsBetween(Window.unboundedPreceding, -1)
        val sg = pos.withColumn("seg",
          coalesce(sum(col("b")).over(w), lit(0L)))
        val ck = sg.groupBy("doc_id", "seg")
          .agg(count(lit(1)).as("ctoks"),
            concat_ws(" ", transform(
              array_sort(collect_list(struct(col("i"), col("tok")))),
              e => e.getField("tok"))).as("ctext"))
          .select(col("doc_id"), col("ctoks"),
            hash32(concat(lit("ck:"), col("ctext"))).as("ch"))
          .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        val df = ck.groupBy("ch").agg(countDistinct(col("doc_id")).as("dcnt"))
        ck.join(broadcast(df), Seq("ch"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"), sum(col("ctoks")).as("n_tok"),
            sum(col("ch")).as("checksum"),
            sum(when(col("dcnt") >= 2, 1L).otherwise(0L)).as("n_shared"))
          .orderBy("doc_id")
      }),

    // SimHash-32 (Charikar 2002, "Similarity estimation techniques from
    // rounding algorithms"): hash32(token) per distinct token; each bit
    // position accumulates +w/-w by token frequency, signs form the
    // signature. Round 6: the hash is the PORTABLE md5-derived 32-bit
    // value (Det.hash32 — bit-identical to the oracle's masked
    // md5_number_upper), so the signature itself is oracle-graded;
    // the Hamming-separation property test remains as the semantic check.
    Q("llm_simhash", Some {
      val accCols = (0 until 32).map(b =>
        s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN w ELSE -w END) AS acc$b").mkString(", ")
      val sigExpr = (0 until 32).map(b =>
        s"(CASE WHEN acc$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      "WITH t AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents), " +
        "th AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS w, " +
        sqlHash32("tok") + " AS h FROM t GROUP BY doc_id, tok), " +
        s"acc AS (SELECT doc_id, $accCols FROM th GROUP BY doc_id) " +
        s"SELECT doc_id, CAST($sigExpr AS BIGINT) AS simhash FROM acc ORDER BY doc_id"
    },
      (s, d) => {
        // 32 columnar ± accumulators in ONE per-doc aggregation (the
        // per-(doc,bit) row layout shuffled 32× the rows through an extra
        // stage; same fold as llm_minhash's inline hashes), then the
        // signature assembles from the 32 signs in a single projection.
        val th = tokens(s, d)
          .groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("w"))
          .withColumn("h", hash32(col("tok")))
        val accCols = (0 until 32).map(b =>
          sum(when(expr(s"(h >> $b) & 1") === 1, col("w")).otherwise(-col("w")))
            .as(s"acc$b"))
        val simhash = (0 until 32).map(b =>
          when(col(s"acc$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)
        th.groupBy("doc_id")
          .agg(accCols.head, accCols.tail: _*)
          .select(col("doc_id"), simhash.as("simhash"))
          .orderBy("doc_id")
      }),

    // Exact bigram-set Jaccard >= 0.5 same-lang pairs — EXACT BY
    // CONSTRUCTION, replacing r5's minhash-banded candidates whose recall
    // was a measured corpus property, not a theorem (a boundary j=0.5 pair
    // missed with (1-0.5^4)^8 ~ 60% probability — ADVICE r5). Each doc
    // packs its distinct bigrams as ONE sorted dictionary-id array; docs
    // self-join per (lang) block with the symmetric LENGTH filter
    // (j >= 0.5 forces n_max <= 2*n_min), and the Jaccard is verified
    // inline per pair by a codegen'd integer array_intersect — one row per
    // doc into a broadcast join, no explode, no per-pair aggregation.
    // Candidate-scheme choice is corpus-measured: this corpus's bigram
    // vocabulary is CLOSED and tiny (931 bigrams across 256k doc-bigram
    // rows at sf0.1), so every bigram is shared by ~275 docs and NO
    // content-based filter can prune — PPJoin prefix filtering was built
    // and measured here at 2.03M candidate pairs (df-ascending order) vs
    // 2.08M lexicographic vs 2.2M unfiltered same-lang pairs, while paying
    // an explode + join + distinct to find that out (79 s vs 5 s at
    // sf0.1). On a Zipfian OPEN vocabulary the inequality flips and the
    // df-ascending prefix join (SSJoin/PPJoin, complete for j >= 0.5 by
    // the prefix lemma) becomes the right candidate generator — that exact
    // machinery ships as llm_dedup_pipeline's phase B; the approximate
    // open-world path stays llm_minhash. LlmPipelineSpec proves equality
    // to brute force generatively, including threshold-straddling pairs.
    Q("llm_ngram_jaccard", Some(
      "WITH bigr AS (SELECT DISTINCT doc_id, bigram FROM (" +
        "SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bigram " +
        "FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents) WHERE LEN(tk) >= 2)), " +
        "dict AS (SELECT bigram, CAST(DENSE_RANK() OVER (ORDER BY bigram) - 1 AS INT) AS bid " +
        "FROM (SELECT DISTINCT bigram FROM bigr)), " +
        "masks AS (SELECT doc_id, bid // 63 AS w, SUM(CAST(1 AS BIGINT) << (bid % 63)) AS m " +
        "FROM bigr JOIN dict USING (bigram) GROUP BY doc_id, w), " +
        "sizes AS (SELECT doc_id, CAST(SUM(BIT_COUNT(m)) AS BIGINT) AS n FROM masks GROUP BY doc_id), " +
        "langd AS (SELECT doc_id, lang FROM documents), " +
        // the oracle states the SEMANTICS (all same-lang pairs over the
        // threshold) as brute force; the Spark plan reaches the same set
        // through the length-filtered block join + inline exact verify
        "inter AS (SELECT x.doc_id AS d1, y.doc_id AS d2, SUM(BIT_COUNT(x.m & y.m)) AS i " +
        "FROM masks x JOIN masks y ON y.w = x.w AND x.doc_id < y.doc_id " +
        "JOIN langd la ON la.doc_id = x.doc_id JOIN langd lb ON lb.doc_id = y.doc_id AND lb.lang = la.lang " +
        "GROUP BY d1, d2) " +
        "SELECT d1, d2, " + sqlS6("CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE)") + " AS ngram_jaccard " +
        "FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id " +
        "WHERE CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE) >= 0.5 " +
        "ORDER BY d1, d2"),
      (s, d) => {
        // each doc's distinct bigrams as ONE packed array of dictionary
        // ids (zipWithIndex ids — the intersect is permutation-invariant,
        // TextOps.denseIds scaladoc): the pair verify is the native
        // SortedIntersectCount two-pointer merge (graft_icount) — zero
        // allocation per pair where array_intersect builds a hash set per
        // row, and the per-doc row layout keeps the block join
        // explode-free
        import graft.functions.VectorExprs.icount
        // persisted: the dict's eager zipWithIndex job AND the docsB build
        // both consume the distinct doc-bigram stream
        val bigr = TextOps.bigrams(T.documents(s, d), "doc_id").distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val dict = TextOps.denseIds(bigr.select("bigram").distinct(), "bid")
        val langd = T.documents(s, d).select(col("doc_id"), col("lang"))
        // persisted: both sides of the block self-join
        val docsB = bigr.join(broadcast(dict), "bigram")
          .groupBy("doc_id")
          .agg(array_sort(collect_list(col("bid"))).as("ids"))
          .join(langd, "doc_id")
          .withColumn("n", size(col("ids")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val jac = col("i").cast("double") / (col("n1") + col("n2") - col("i")).cast("double")
        // SIZE-GATED broadcast of the self-join build side (VERDICT r6
        // "what's wrong" #2: the former unconditional hint dies at corpus
        // scale). The gate measures the persisted packed-doc table itself
        // (one agg over the cache, materialized here anyway): estimated
        // bytes = rows*64 (row + lang/n overhead) + total ids*8 (unsafe
        // array slots). Under the 8 MB gate (conservative vs Spark's 10 MB
        // default) the hint applies — this corpus: ~5k rows / ~1 MB, and
        // PlanContractSpec pins the BHJ. Over the gate the hint is
        // withheld: the stats-blind self-join then plans a shuffled SMJ
        // on lang (few hot keys — AQE skew-join splits them), which is
        // slower but survives. At real open-corpus scale neither form is
        // the answer — use llm_minhash (banded) or llm_dedup_pipeline
        // phase B (prefix-filtered), per the scaladoc above.
        val sizes = docsB.agg(count(lit(1)).as("c"),
          coalesce(sum(col("n").cast("long")), lit(0L)).as("ids")).head()
        val estBytes = sizes.getLong(0) * 64L + sizes.getLong(1) * 8L
        // enforced scale caveat (as llm_dedup_near): quadratic per lang
        // block by design — refuse above the pair budget
        TextOps.guardPairBudget(docsB, Seq("lang"), "llm_ngram_jaccard",
          "use llm_minhash (banded candidates) or llm_dedup_pipeline " +
            "phase B (prefix-filtered) at corpus scale")
        val build = docsB.select(
          col("doc_id").as("d2"), col("lang"), col("ids").as("ib"), col("n").as("n2"))
        docsB.select(col("doc_id").as("d1"), col("lang"), col("ids").as("ia"), col("n").as("n1"))
          .join(if (estBytes <= (8L << 20)) broadcast(build) else build, Seq("lang"))
          // length filter: j >= 0.5 is impossible unless the sizes are
          // within 2x of each other — prunes before the intersect runs
          .where(col("d1") < col("d2") && col("n1") <= col("n2") * 2 && col("n2") <= col("n1") * 2)
          .withColumn("i", icount(col("ia"), col("ib")))
          .where(jac >= 0.5)
          .select(col("d1"), col("d2"), s6(jac).as("ngram_jaccard"))
          .orderBy("d1", "d2")
      }),

    // Embedding-cosine high-similarity pairs (cosine >= 0.3 -- this
    // synthetic corpus's within-cluster cosines top out at ~0.47; a real
    // near-dup corpus would run the same plan at ~0.95), blocked by label
    // (the cluster id is the IVF cell). Dot products and norms are
    // accumulated as scaled 64-bit integers: pl = FLOOR(x*y*1e14 + 0.5) is
    // a pure IEEE double computation, identical bit-for-bit in Spark and
    // DuckDB, and the long sum is exact, order-free, and whole-stage
    // codegen'd (an interpreted decimal fold here cost 60s at sf0.1).
    Q("llm_embed_neardup", Some(
      "WITH ux AS (SELECT vec_id, label, CAST(UNNEST(embedding) AS DOUBLE) AS x, " +
        "UNNEST(RANGE(1, LEN(embedding) + 1)) AS i FROM embeddings), " +
        "norms AS (SELECT vec_id, CAST(SUM(CAST(FLOOR(x * x * 1e14 + 0.5) AS BIGINT)) AS BIGINT) AS nl " +
        "FROM ux GROUP BY vec_id), " +
        "dots AS (SELECT a.vec_id AS v1, b.vec_id AS v2, " +
        "CAST(SUM(CAST(FLOOR(a.x * b.x * 1e14 + 0.5) AS BIGINT)) AS BIGINT) AS dotl FROM ux a " +
        "JOIN ux b ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id " +
        "GROUP BY v1, v2), " +
        "cos AS (SELECT v1, v2, (CAST(dotl AS DOUBLE) / 1e14) / " +
        "(SQRT(CAST(na.nl AS DOUBLE) / 1e14) * SQRT(CAST(nb.nl AS DOUBLE) / 1e14)) AS c " +
        "FROM dots JOIN norms na ON v1 = na.vec_id JOIN norms nb ON v2 = nb.vec_id) " +
        "SELECT v1, v2, " + sqlS6("c") + " AS cos_sim FROM cos " +
        "WHERE c >= 0.3 ORDER BY v1, v2"),
      (s, d) => {
        // FloatVecScaledDotL collapses the oracle's unnest + equi-join +
        // long-sum agg into one per-pair codegen'd loop: the per-element
        // FLOOR canonicalization is identical and the integer sum is
        // order-free, so the value matches the unnested plan bit-for-bit.
        // Pairs come from a label-blocked self-join of whole rows (the IVF
        // cell analogue) — dim× fewer shuffled rows than the posexplode
        // layout, and no wide hash-agg.
        import graft.functions.VectorExprs.sdotl
        val withNorm = T.embeddings(s, d)
          .select(col("vec_id"), col("label"), col("embedding"),
            sdotl(col("embedding"), col("embedding")).as("nl"))
        val a = withNorm.select(col("vec_id").as("v1"), col("label"),
          col("embedding").as("ea"), col("nl").as("nla"))
        val b = withNorm.select(col("vec_id").as("v2"), col("label"),
          col("embedding").as("eb"), col("nl").as("nlb"))
        val cos = (sdotl(col("ea"), col("eb")).cast("double") / lit(1e14)) /
          (sqrt(col("nla").cast("double") / lit(1e14)) * sqrt(col("nlb").cast("double") / lit(1e14)))
        a.join(b, Seq("label"))
          .where(col("v1") < col("v2"))
          .withColumn("c", cos)
          .where(col("c") >= 0.3)
          .select(col("v1"), col("v2"), s6(col("c")).as("cos_sim"))
          .orderBy("v1", "v2")
      }),

    // Semantic dedup END-TO-END (round 9) — the SemDeDup recipe (Abbas
    // et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    // through semantic deduplication"): embedding-cosine near-dup PAIRS
    // (llm_embed_neardup's exact label-blocked plan — the IVF cell is
    // the published within-cluster scope) → connected components (the
    // shared componentLabels machinery: star contraction + size-gated
    // local union-find) → ONE representative kept per component. The
    // keep rule is deterministic and exact: highest scaled-long L2 norm
    // (the most-informative member under the dot-product geometry),
    // ties to the smallest vec_id. Oracle: the same pair SQL feeding a
    // WITH RECURSIVE min-label closure and the same norm-ranked pick.
    // At 100 TB the pair source is the guarded family story: label
    // blocks bound the join (or llm_ann_lsh's sign buckets replace
    // them), components and picks are linear.
    Q("llm_dedup_semantic", Some(
      "WITH RECURSIVE ux AS (SELECT vec_id, label, CAST(UNNEST(embedding) AS DOUBLE) AS x, " +
        "UNNEST(RANGE(1, LEN(embedding) + 1)) AS i FROM embeddings), " +
        "norms AS (SELECT vec_id, CAST(SUM(CAST(FLOOR(x * x * 1e14 + 0.5) AS BIGINT)) AS BIGINT) AS nl " +
        "FROM ux GROUP BY vec_id), " +
        "dots AS (SELECT a.vec_id AS v1, b.vec_id AS v2, " +
        "CAST(SUM(CAST(FLOOR(a.x * b.x * 1e14 + 0.5) AS BIGINT)) AS BIGINT) AS dotl FROM ux a " +
        "JOIN ux b ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id " +
        "GROUP BY v1, v2), " +
        "pairs AS (SELECT v1 AS d1, v2 AS d2 FROM dots " +
        "JOIN norms na ON v1 = na.vec_id JOIN norms nb ON v2 = nb.vec_id " +
        "WHERE (CAST(dotl AS DOUBLE) / 1e14) / " +
        "(SQRT(CAST(na.nl AS DOUBLE) / 1e14) * SQRT(CAST(nb.nl AS DOUBLE) / 1e14)) >= 0.3), " +
        "edges AS (SELECT d1, d2 FROM pairs UNION ALL SELECT d2, d1 FROM pairs), " +
        "reach AS (SELECT vec_id AS a, vec_id AS b FROM embeddings " +
        "UNION SELECT r.a, e.d2 FROM reach r JOIN edges e ON r.b = e.d1), " +
        "cl AS (SELECT a AS vec_id, MIN(b) AS cluster FROM reach GROUP BY a), " +
        "rep AS (SELECT cl.vec_id, cl.cluster, " +
        "ROW_NUMBER() OVER (PARTITION BY cl.cluster ORDER BY n.nl DESC, cl.vec_id) AS rn, " +
        "COUNT(*) OVER (PARTITION BY cl.cluster) AS n_members " +
        "FROM cl JOIN norms n ON n.vec_id = cl.vec_id) " +
        "SELECT cluster, vec_id AS kept_id, CAST(n_members AS BIGINT) AS n_members " +
        "FROM rep WHERE rn = 1 ORDER BY cluster"),
      (s, d) => {
        import graft.functions.VectorExprs.sdotl
        val withNorm = T.embeddings(s, d)
          .select(col("vec_id"), col("label"), col("embedding"),
            sdotl(col("embedding"), col("embedding")).as("nl"))
        val a = withNorm.select(col("vec_id").as("v1"), col("label"),
          col("embedding").as("ea"), col("nl").as("nla"))
        val b = withNorm.select(col("vec_id").as("v2"), col("label"),
          col("embedding").as("eb"), col("nl").as("nlb"))
        val cos = (sdotl(col("ea"), col("eb")).cast("double") / lit(1e14)) /
          (sqrt(col("nla").cast("double") / lit(1e14)) * sqrt(col("nlb").cast("double") / lit(1e14)))
        val pairs = a.join(b, Seq("label"))
          .where(col("v1") < col("v2") && cos >= 0.3)
          .select(col("v1").as("d1"), col("v2").as("d2"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val labels = Llm.componentLabels(
          withNorm.select(col("vec_id").as("doc_id")), pairs)
        val wPick = Window.partitionBy("cluster").orderBy(col("nl").desc, col("doc_id"))
        val wAll = Window.partitionBy("cluster")
        labels
          .join(withNorm.select(col("vec_id").as("doc_id"), col("nl")), "doc_id")
          .withColumn("rn", row_number().over(wPick))
          .withColumn("n_members", count(lit(1)).over(wAll))
          .where(col("rn") === 1)
          .select(col("cluster"), col("doc_id").as("kept_id"), col("n_members"))
          .orderBy("cluster")
      }),

    // ANN via sign-LSH: 8 deterministic pseudo-hyperplanes (elementwise
    // +-1 signs from the portable hash32(plane:pos) parity), vectors
    // bucketed by the 8-bit sign signature, top-3 scaled-long cosine
    // searched within the query's bucket only. Round 6: every stage —
    // scaled-long projections, sign bucket, scaled-long cosine ranking —
    // is exact integer math shared bit-for-bit with the oracle, so the
    // probe-bounded search is hash-graded end-to-end (same determinism
    // chain as llm_ann_ivf); recall vs the brute-force llm_cosine_topk
    // stays property-tested.
    Q("llm_ann_lsh", Some {
      val (projCols, bucketExpr) = signSql(8)
      UxSql +
        s"projs AS (SELECT vec_id, $projCols FROM ux GROUP BY vec_id), " +
        s"bkt AS (SELECT vec_id, CAST($bucketExpr AS BIGINT) AS bucket FROM projs), " +
        "q AS (SELECT i, x AS qx FROM ux WHERE vec_id = 0), " +
        "qb AS (SELECT bucket AS qbucket FROM bkt WHERE vec_id = 0), " +
        "nq AS (SELECT SUM(CAST(FLOOR(qx * qx * 1e14 + 0.5) AS BIGINT)) AS nl FROM q), " +
        "cand AS (SELECT u.vec_id, SUM(CAST(FLOOR(u.x * q.qx * 1e14 + 0.5) AS BIGINT)) AS dotl, " +
        "SUM(CAST(FLOOR(u.x * u.x * 1e14 + 0.5) AS BIGINT)) AS nl " +
        "FROM ux u JOIN q ON u.i = q.i JOIN bkt ON u.vec_id = bkt.vec_id " +
        "JOIN qb ON bkt.bucket = qb.qbucket WHERE u.vec_id <> 0 GROUP BY u.vec_id), " +
        "cosd AS (SELECT c.vec_id, bkt.bucket, (CAST(dotl AS DOUBLE) / 1e14) / " +
        "(SQRT(CAST(c.nl AS DOUBLE) / 1e14) * SQRT((SELECT CAST(nl AS DOUBLE) FROM nq) / 1e14)) AS cc " +
        "FROM cand c JOIN bkt ON c.vec_id = bkt.vec_id) " +
        "SELECT vec_id, bucket, " + sqlS6("cc") + " AS cos_sim FROM cosd " +
        "ORDER BY cc DESC, vec_id LIMIT 3"
    },
      (s, d) => {
        val ux = T.embeddings(s, d)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "xf")))
          .withColumn("x", col("xf").cast("double"))
        // 8 columnar scaled-long projections in ONE per-vector aggregation
        // (exact, order-free, codegen'd): the plane crossJoin layout
        // shuffled 8x the rows through an extra stage. The deterministic
        // pseudo-hyperplane sign for (plane, pos) is computed inline.
        def sgn(plane: Int) =
          when(pmod(hash32(concat_ws(":", lit(plane), col("pos"))), lit(2)) === 0, 1d)
            .otherwise(-1d)
        val projCols = (0 until 8).map(p =>
          sum(floor(col("x") * sgn(p) * lit(1e14) + lit(0.5))).as(s"proj$p"))
        val bucket = (0 until 8).map(p =>
          when(col(s"proj$p") > 0, lit(1L << p)).otherwise(0L)).reduce(_ + _)
        val sigs = ux.groupBy("vec_id")
          .agg(projCols.head, projCols.tail: _*)
          .select(col("vec_id"), bucket.as("bucket"))
        val e = T.embeddings(s, d).join(sigs, "vec_id")
        val q = e.where(col("vec_id") === 0)
          .select(col("bucket").as("qbucket"), col("embedding").as("qe"))
        val cos = scaledCos("embedding", "qe")
        e.where(col("vec_id") =!= 0)
          .join(broadcast(q), col("bucket") === col("qbucket"))
          .withColumn("cos_raw", cos)
          .orderBy(col("cos_raw").desc, col("vec_id"))
          .limit(3)
          .select(col("vec_id"), col("bucket"), s6(col("cos_raw")).as("cos_sim"))
      }),

    // IVF-style ANN: the label clusters are the inverted-file cells; the
    // query probes only its 2 nearest cells (by scaled-long centroid
    // distance), then ranks candidates by cosine built ENTIRELY from
    // scaled-long dot products (FloatVecScaledDotL — exact, order-free
    // integers; the ranking doubles then derive from identical longs on
    // both engines). That determinism chain is what lets a probe-bounded
    // ANN carry a full DuckDB oracle (round 6): the oracle unnests the
    // same mean6 centroids, sl2 probes, and scaled dots relationally.
    // The other scale path is llm_ann_lsh; brute force is llm_cosine_topk.
    Q("llm_ann_ivf", Some(
      "WITH ux AS (SELECT vec_id, label, CAST(UNNEST(embedding) AS DOUBLE) AS x, " +
        "UNNEST(RANGE(1, LEN(embedding) + 1)) AS i FROM embeddings), " +
        "cent AS (SELECT label AS clabel, i, " + sqlMean6("x") + " AS c6 " +
        "FROM ux GROUP BY clabel, i), " +
        "q AS (SELECT i, x AS qx FROM ux WHERE vec_id = 0), " +
        "probes AS (SELECT clabel FROM (" +
        "SELECT clabel, SUM(CAST(FLOOR((CAST(c6 AS DOUBLE) / 1e6 - qx) * (CAST(c6 AS DOUBLE) / 1e6 - qx) * 1e14 + 0.5) AS BIGINT)) AS d2 " +
        "FROM cent JOIN q USING (i) GROUP BY clabel) x ORDER BY d2, clabel LIMIT 2), " +
        "nq AS (SELECT SUM(CAST(FLOOR(qx * qx * 1e14 + 0.5) AS BIGINT)) AS nl FROM q), " +
        "cand AS (SELECT u.vec_id, u.label, " +
        "SUM(CAST(FLOOR(u.x * q.qx * 1e14 + 0.5) AS BIGINT)) AS dotl, " +
        "SUM(CAST(FLOOR(u.x * u.x * 1e14 + 0.5) AS BIGINT)) AS nl " +
        "FROM ux u JOIN q ON u.i = q.i JOIN probes p ON u.label = p.clabel " +
        "WHERE u.vec_id <> 0 GROUP BY u.vec_id, u.label), " +
        "cosd AS (SELECT vec_id, label, (CAST(dotl AS DOUBLE) / 1e14) / " +
        "(SQRT(CAST(nl AS DOUBLE) / 1e14) * SQRT((SELECT CAST(nl AS DOUBLE) FROM nq) / 1e14)) AS c FROM cand) " +
        "SELECT vec_id, label, " + sqlS6("c") + " AS cos_sim FROM cosd " +
        "ORDER BY c DESC, vec_id LIMIT 3"),
      (s, d) => {
        import graft.functions.VectorExprs.sl2
        val ux = T.embeddings(s, d)
          .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "xf")))
          .withColumn("x", col("xf").cast("double"))
        val cent = ux.groupBy(col("label").as("clabel"), col("pos"))
          .agg((graft.Det.mean6(col("x")).cast("double") / lit(1e6)).as("c"))
        // packed centroid arrays -> query-to-centroid distance is ONE
        // codegen'd sl2 per cell (same shape as llm_knn_centroid)
        val centArr = cent.groupBy("clabel")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
            e => e.getField("c")).as("cvec"))
        val qArr = T.embeddings(s, d).where(col("vec_id") === 0)
          .select(transform(col("embedding"), x => x.cast("double")).as("qvec"))
        val probes = centArr.crossJoin(broadcast(qArr))
          .select(col("clabel"), sl2(col("cvec"), col("qvec")).as("d2"))
          .orderBy(col("d2"), col("clabel"))
          .limit(2)
          .select(col("clabel").as("label"))
        val q = T.embeddings(s, d).where(col("vec_id") === 0)
          .select(col("embedding").as("qe"))
        val cos = scaledCos("embedding", "qe")
        T.embeddings(s, d)
          .join(broadcast(probes), "label")
          .where(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .withColumn("cos_raw", cos)
          .orderBy(col("cos_raw").desc, col("vec_id"))
          .limit(3)
          .select(col("vec_id"), col("label"), s6(col("cos_raw")).as("cos_sim"))
      }),

    // Incremental IVF index maintenance (round 15, VERDICT r14 missing
    // #2) — the FAISS add()-after-train law [PK]: production embedding
    // stores append daily deltas against a FROZEN quantizer instead of
    // retraining. The index (vec_id <> 0) splits by hash into base
    // (~75%) and delta (~25%); centroids are trained ONCE as the mean6
    // of each label's BASE members and then frozen; every vector —
    // base at build time, delta at upsert time — is assigned to its
    // nearest frozen centroid by scaled-long L2 (ties → smallest cell).
    // Graded per cell: (1) census_match pins the exactness law
    // merged(assign(base) ∪ assign(delta)) == rebuilt(assign(all)) —
    // constant 1 BY LAW (per-vector assignment is independent, so
    // incremental add is exact under a frozen quantizer; an engine
    // diverging on any argmin breaks it, the dq_eventcount_3sigma
    // constant-lane precedent); (2) n_drift counts members whose
    // geometric cell differs from their label — the re-train drift a
    // store accumulates (this corpus's labels are NOT geometric
    // clusters, FIXTURES.md, so the lane fires hard); (3) q_hits runs
    // query 0's 2-probe top-10 through the merged index (nonzero only
    // on probed cells). Scale shape: the centroid table is
    // cell-count-bounded and broadcasts; upsert cost is ONE map-side
    // argmin pass over the DELTA only; the rebuild lane exists here
    // purely to grade the equality.
    Q("llm_ann_ivf_upsert", Some(
      "WITH ux AS (SELECT vec_id, label, CAST(UNNEST(embedding) AS DOUBLE) AS x, " +
        "UNNEST(RANGE(1, LEN(embedding) + 1)) AS i FROM embeddings WHERE vec_id <> 0), " +
        "flags AS (SELECT DISTINCT vec_id, label, " +
        "CASE WHEN " + sqlHash32("'upsert:' || CAST(vec_id AS VARCHAR)") + " % 4 = 0 THEN 1 ELSE 0 END AS is_delta " +
        "FROM ux), " +
        "cent AS (SELECT u.label AS clabel, u.i, " + sqlMean6("u.x") + " AS c6 " +
        "FROM ux u JOIN flags f ON f.vec_id = u.vec_id AND f.is_delta = 0 " +
        "GROUP BY clabel, u.i), " +
        "ad AS (SELECT u.vec_id, c.clabel, " +
        "SUM(CAST(FLOOR((CAST(c.c6 AS DOUBLE) / 1e6 - u.x) * (CAST(c.c6 AS DOUBLE) / 1e6 - u.x) * 1e14 + 0.5) AS BIGINT)) AS d2 " +
        "FROM ux u JOIN cent c ON c.i = u.i GROUP BY u.vec_id, c.clabel), " +
        "asg AS (SELECT vec_id, clabel FROM (SELECT vec_id, clabel, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn FROM ad) WHERE rn = 1), " +
        "cells AS (SELECT DISTINCT clabel FROM cent), " +
        "cen AS (SELECT a.clabel, " +
        "CAST(SUM(1 - f.is_delta) AS BIGINT) AS n_base, " +
        "CAST(SUM(f.is_delta) AS BIGINT) AS n_delta, " +
        "CAST(COUNT(*) AS BIGINT) AS n_rebuilt, " +
        "CAST(SUM(CASE WHEN f.label <> a.clabel THEN 1 ELSE 0 END) AS BIGINT) AS n_drift " +
        "FROM asg a JOIN flags f ON f.vec_id = a.vec_id GROUP BY a.clabel), " +
        "q AS (SELECT i, x AS qx FROM (SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x, " +
        "UNNEST(RANGE(1, LEN(embedding) + 1)) AS i FROM embeddings) WHERE vec_id = 0), " +
        "qd AS (SELECT c.clabel, " +
        "SUM(CAST(FLOOR((CAST(c.c6 AS DOUBLE) / 1e6 - q.qx) * (CAST(c.c6 AS DOUBLE) / 1e6 - q.qx) * 1e14 + 0.5) AS BIGINT)) AS d2 " +
        "FROM cent c JOIN q ON q.i = c.i GROUP BY c.clabel), " +
        "probes AS (SELECT clabel FROM qd ORDER BY d2, clabel LIMIT 2), " +
        "nq AS (SELECT SUM(CAST(FLOOR(qx * qx * 1e14 + 0.5) AS BIGINT)) AS nl FROM q), " +
        "cand AS (SELECT a.vec_id, a.clabel, " +
        "SUM(CAST(FLOOR(u.x * q.qx * 1e14 + 0.5) AS BIGINT)) AS dotl, " +
        "SUM(CAST(FLOOR(u.x * u.x * 1e14 + 0.5) AS BIGINT)) AS nl " +
        "FROM asg a JOIN probes p ON a.clabel = p.clabel " +
        "JOIN ux u ON u.vec_id = a.vec_id JOIN q ON q.i = u.i " +
        "GROUP BY a.vec_id, a.clabel), " +
        "top AS (SELECT clabel FROM (SELECT clabel, (CAST(dotl AS DOUBLE) / 1e14) / " +
        "(SQRT(CAST(nl AS DOUBLE) / 1e14) * SQRT((SELECT CAST(nl AS DOUBLE) FROM nq) / 1e14)) AS c, vec_id " +
        "FROM cand) x ORDER BY c DESC, vec_id LIMIT 10), " +
        "qh AS (SELECT clabel, CAST(COUNT(*) AS BIGINT) AS q_hits FROM top GROUP BY clabel) " +
        "SELECT cells.clabel, COALESCE(cen.n_base, 0) AS n_base, " +
        "COALESCE(cen.n_delta, 0) AS n_delta, COALESCE(cen.n_rebuilt, 0) AS n_rebuilt, " +
        "CAST(CASE WHEN COALESCE(cen.n_base, 0) + COALESCE(cen.n_delta, 0) = COALESCE(cen.n_rebuilt, 0) " +
        "THEN 1 ELSE 0 END AS BIGINT) AS census_match, " +
        "COALESCE(cen.n_drift, 0) AS n_drift, COALESCE(qh.q_hits, 0) AS q_hits " +
        "FROM cells LEFT JOIN cen ON cen.clabel = cells.clabel " +
        "LEFT JOIN qh ON qh.clabel = cells.clabel ORDER BY cells.clabel"),
      (s, d) => {
        import graft.functions.VectorExprs.sl2
        val emb = T.embeddings(s, d).where(col("vec_id") =!= 0)
          .select(col("vec_id"), col("label"), col("embedding"),
            (when(hash32(concat(lit("upsert:"), col("vec_id").cast("string")))
              % 4 === 0, 1L).otherwise(0L)).as("is_delta"))
          .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        val ux = emb.where(col("is_delta") === 0)
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "xf")))
          .withColumn("x", col("xf").cast("double"))
        // frozen quantizer: per-label mean6 centroids over BASE members,
        // packed to one array per cell (bounded; broadcasts at any scale)
        val centArr = ux.groupBy(col("label").as("clabel"), col("pos"))
          .agg((mean6(col("x")).cast("double") / lit(1e6)).as("c"))
          .groupBy("clabel")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
            e => e.getField("c")).as("cvec"))
          .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        // ONE argmin pass assigns every vector (upsert cost at scale is
        // this map-side pass over the DELTA alone; base rows double as
        // the stored index AND the rebuild lane)
        val asg = emb
          .select(col("vec_id"), col("label"), col("is_delta"),
            transform(col("embedding"), x => x.cast("double")).as("dvec"))
          .crossJoin(broadcast(centArr))
          .select(col("vec_id"), col("label"), col("is_delta"), col("clabel"),
            sl2(col("cvec"), col("dvec")).as("d2"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("vec_id").orderBy(col("d2"), col("clabel"))))
          .where(col("rn") === 1)
          .select("vec_id", "label", "is_delta", "clabel")
          .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        val cen = asg.groupBy("clabel")
          .agg(sum(lit(1L) - col("is_delta")).as("n_base"),
            sum(col("is_delta")).as("n_delta"),
            count(lit(1)).as("n_rebuilt"),
            sum(when(col("label") =!= col("clabel"), 1L).otherwise(0L)).as("n_drift"))
        val qArr = T.embeddings(s, d).where(col("vec_id") === 0)
          .select(transform(col("embedding"), x => x.cast("double")).as("qvec"),
            col("embedding").as("qe"))
        val probes = centArr.crossJoin(broadcast(qArr))
          .select(col("clabel"), sl2(col("cvec"), col("qvec")).as("d2"))
          .orderBy(col("d2"), col("clabel"))
          .limit(2)
          .select(col("clabel"))
        val cos = scaledCos("embedding", "qe")
        val qh = asg.join(broadcast(probes), "clabel")
          .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
          .crossJoin(broadcast(qArr.select(col("qe"))))
          .withColumn("c", cos)
          .orderBy(col("c").desc, col("vec_id"))
          .limit(10)
          .groupBy("clabel").agg(count(lit(1)).as("q_hits"))
        centArr.select(col("clabel"))
          .join(cen, Seq("clabel"), "left")
          .join(qh, Seq("clabel"), "left")
          .select(col("clabel"),
            coalesce(col("n_base"), lit(0L)).as("n_base"),
            coalesce(col("n_delta"), lit(0L)).as("n_delta"),
            coalesce(col("n_rebuilt"), lit(0L)).as("n_rebuilt"),
            when(coalesce(col("n_base"), lit(0L)) + coalesce(col("n_delta"), lit(0L))
              === coalesce(col("n_rebuilt"), lit(0L)), 1L).otherwise(0L).as("census_match"),
            coalesce(col("n_drift"), lit(0L)).as("n_drift"),
            coalesce(col("q_hits"), lit(0L)).as("q_hits"))
          .orderBy("clabel")
      }),

    // Product-quantization ANN (round 11; round 12 TRAINED per VERDICT
    // r11 item 1) — the third rung of the ANN ladder after sign-LSH
    // buckets and IVF probes [Jégou, Douze & Schmid 2011, "Product
    // quantization for nearest neighbor search"]: each 64-dim embedding
    // splits into M=16 subspaces of 4 dims, each subspace's K=16
    // codebook TRAINED by 3 Lloyd rounds (iterate-quantize — see
    // pqSqlChain), each subvector quantized to its nearest trained
    // centroid, so a vector compresses to 16 small codes and query
    // distance is the asymmetric-distance LUT sum Σ_m d²(q_m,
    // cb[m][code_m]) — the memory form that fits billion-vector indexes
    // in RAM. Everything stays exact: per-dim terms are scaled-long
    // squares, code assignment is an integer argmin (ties → smallest
    // centroid id), ADC is an order-free long sum, and the Lloyd loop
    // hash-matches by the iterate-quantize induction. Output: top-3 by
    // ADC with each hit's code word. At archive scale the codebook
    // broadcasts (M·K·4 doubles) and assignment is one map-side pass
    // per round.
    Q("llm_ann_pq", Some(
      "WITH " + pqSqlChain + " " +
        "SELECT a.vec_id, e.label, a.pq_code, a.adc14 " +
        "FROM adc a JOIN embeddings e ON e.vec_id = a.vec_id " +
        "ORDER BY a.adc14, a.vec_id LIMIT 3"),
      (s, d) =>
        pqAdc(s, d)
          .join(T.embeddings(s, d).select(col("vec_id"), col("label")), "vec_id")
          .orderBy(col("adc14"), col("vec_id"))
          .limit(3)
          .select(col("vec_id"), col("label"), col("pq_code"), col("adc14"))),

    // PQ recall evaluation (round 11; round 12 graded on the FULL
    // search pipeline) — the "measure, don't guess" harness on the PQ
    // rung: the graded search is trained-ADC shortlist(50) → exact
    // scaled-long rerank → top-10, intersected with the EXACT cosine
    // top-10 (llm_cosine_topk's law, ties by vec_id) — the ADC-R
    // protocol [Jégou et al. 2011 §VII], because raw ADC ranking was
    // MEASURED to plateau at 0.6-0.7 on this unit-norm corpus for every
    // swept geometry (rank-10 cosine gaps sit below quantization
    // noise). Both the shortlist containment (hits_short) and the
    // end-to-end recall (hits_pq10, = 9/10 at both SFs) are graded pure
    // integers; recall6 is one s6 projection. At archive scale the
    // exact pass runs on a held-out slice, ADC ranking is codes-only,
    // and the rerank touches only |shortlist| full vectors per query.
    Q("llm_ann_pq_recall", Some(
      "WITH " + pqSqlChain + ", " +
        "nq AS (SELECT SUM(CAST(FLOOR(qx * qx * 1e14 + 0.5) AS BIGINT)) AS nl FROM q), " +
        "alld AS (SELECT u.vec_id, " +
        "SUM(CAST(FLOOR(u.x * q2.qx * 1e14 + 0.5) AS BIGINT)) AS dotl, " +
        "SUM(CAST(FLOOR(u.x * u.x * 1e14 + 0.5) AS BIGINT)) AS nl " +
        "FROM ux u JOIN q q2 ON u.pos = q2.pos WHERE u.vec_id <> 0 GROUP BY u.vec_id), " +
        "cosd AS (SELECT vec_id, (CAST(dotl AS DOUBLE) / 1e14) / " +
        "(SQRT(CAST(nl AS DOUBLE) / 1e14) * SQRT((SELECT CAST(nl AS DOUBLE) FROM nq) / 1e14)) AS c " +
        "FROM alld), " +
        "top10 AS (SELECT vec_id FROM cosd ORDER BY c DESC, vec_id LIMIT 10), " +
        s"shortl AS (SELECT vec_id FROM adc ORDER BY adc14, vec_id LIMIT $PqShort), " +
        "rer AS (SELECT c.vec_id FROM cosd c JOIN shortl s USING (vec_id) " +
        "ORDER BY c.c DESC, c.vec_id LIMIT 10), " +
        "k AS (SELECT CAST((SELECT COUNT(*) FROM shortl) AS BIGINT) AS n_short, " +
        "CAST((SELECT COUNT(*) FROM top10 t JOIN shortl USING (vec_id)) AS BIGINT) AS hits_short, " +
        "CAST((SELECT COUNT(*) FROM rer) AS BIGINT) AS n_top, " +
        "CAST((SELECT COUNT(*) FROM top10 t JOIN rer USING (vec_id)) AS BIGINT) AS hits_pq10) " +
        "SELECT n_short, hits_short, n_top, hits_pq10, " +
        sqlS6("CAST(hits_pq10 AS DOUBLE) / CAST(n_top AS DOUBLE)") +
        " AS recall6 FROM k"),
      (s, d) => {
        val emb = T.embeddings(s, d)
        val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qe"))
        val cos = scaledCos("embedding", "qe")
        val cosAll = emb.where(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), cos.as("c"))
          .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        val top10 = cosAll
          .orderBy(col("c").desc, col("vec_id"))
          .limit(10)
          .select(col("vec_id"))
        val shortl = pqAdc(s, d)
          .orderBy(col("adc14"), col("vec_id"))
          .limit(PqShort)
          .select(col("vec_id"))
          .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        val rer = cosAll.join(shortl, "vec_id")
          .orderBy(col("c").desc, col("vec_id"))
          .limit(10)
          .select(col("vec_id"))
        val nShort = shortl.agg(count(lit(1)).as("n_short"))
        val hitsShort = top10.join(shortl, "vec_id")
          .agg(count(lit(1)).as("hits_short"))
        val nTop = rer.agg(count(lit(1)).as("n_top"))
        val hits = top10.join(rer, "vec_id").agg(count(lit(1)).as("hits_pq10"))
        nShort.crossJoin(hitsShort).crossJoin(nTop).crossJoin(hits)
          .select(col("n_short"), col("hits_short"), col("n_top"),
            col("hits_pq10"),
            s6(col("hits_pq10").cast("double") / col("n_top").cast("double"))
              .as("recall6"))
      }),

    // IVF-PQ composed search (round 12, VERDICT r11 item 6) — the
    // composition every real billion-vector index runs [Jégou et al.
    // 2011 IVFADC; FAISS IVFxPQy]: probe the inverted file, rank ONLY
    // the probed lists by the PQ asymmetric-distance LUT, exact-rerank
    // the shortlist. The byte economics are the point — PQ codes are 16
    // small ints per vector vs 64 floats, so at equal scan-byte cost
    // IVFPQ affords MORE probes: 4 cells × 16 code-bytes ≈ 2 cells × 32
    // full-vector bytes-per-dim scanned, and the 4-probe candidate set
    // contains 6-7/10 of the exact top-10 on this corpus vs 2-probe
    // IVF's 3/10 (llm_ann_recall_eval's graded number) — the spec pins
    // ivfpq-hits ≥ ivf-hits. Chain: llm_ann_ivf's probe law (LIMIT 4),
    // trained-PQ ADC (pqSqlChain) over probed candidates only, top-10
    // shortlist by (adc14, vec_id), exact scaled-long cosine rerank.
    // Everything integer until the one fixed cosine sequence.
    Q("llm_ann_ivfpq", Some(
      "WITH " + pqSqlChain + ", " +
        "ivfux AS (SELECT vec_id, label, CAST(UNNEST(embedding) AS DOUBLE) AS x, " +
        "UNNEST(RANGE(1, LEN(embedding) + 1)) AS i FROM embeddings), " +
        "ivfc AS (SELECT label AS clabel, i, " + sqlMean6("x") + " AS c6 " +
        "FROM ivfux GROUP BY clabel, i), " +
        "q2 AS (SELECT i, x AS qx FROM ivfux WHERE vec_id = 0), " +
        "probes AS (SELECT clabel FROM (" +
        "SELECT clabel, SUM(CAST(FLOOR((CAST(c6 AS DOUBLE) / 1e6 - qx) * (CAST(c6 AS DOUBLE) / 1e6 - qx) * 1e14 + 0.5) AS BIGINT)) AS d2 " +
        "FROM ivfc JOIN q2 USING (i) GROUP BY clabel) x ORDER BY d2, clabel LIMIT 4), " +
        "shortl AS (SELECT a.vec_id FROM adc a " +
        "JOIN embeddings e ON e.vec_id = a.vec_id " +
        "JOIN probes p ON e.label = p.clabel " +
        "ORDER BY a.adc14, a.vec_id LIMIT 10), " +
        "nq AS (SELECT SUM(CAST(FLOOR(qx * qx * 1e14 + 0.5) AS BIGINT)) AS nl FROM q), " +
        "cd AS (SELECT u.vec_id, " +
        "SUM(CAST(FLOOR(u.x * q3.qx * 1e14 + 0.5) AS BIGINT)) AS dotl, " +
        "SUM(CAST(FLOOR(u.x * u.x * 1e14 + 0.5) AS BIGINT)) AS nl " +
        "FROM ux u JOIN q q3 ON u.pos = q3.pos " +
        "JOIN shortl sl ON sl.vec_id = u.vec_id GROUP BY u.vec_id), " +
        "r AS (SELECT vec_id, (CAST(dotl AS DOUBLE) / 1e14) / " +
        "(SQRT(CAST(nl AS DOUBLE) / 1e14) * SQRT((SELECT CAST(nl AS DOUBLE) FROM nq) / 1e14)) AS c FROM cd) " +
        "SELECT r.vec_id, e.label, " + sqlS6("r.c") + " AS cos_sim " +
        "FROM r JOIN embeddings e ON e.vec_id = r.vec_id " +
        "ORDER BY r.c DESC, r.vec_id LIMIT 10"),
      (s, d) => {
        import graft.functions.VectorExprs.sl2
        val ux = T.embeddings(s, d)
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("pos", "xf")))
          .withColumn("x", col("xf").cast("double"))
        val cent = ux.groupBy(col("label").as("clabel"), col("pos"))
          .agg((graft.Det.mean6(col("x")).cast("double") / lit(1e6)).as("c"))
        val centArr = cent.groupBy("clabel")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
            e => e.getField("c")).as("cvec"))
        val qArr = T.embeddings(s, d).where(col("vec_id") === 0)
          .select(transform(col("embedding"), x => x.cast("double")).as("qvec"))
        val probes = centArr.crossJoin(broadcast(qArr))
          .select(col("clabel"), sl2(col("cvec"), col("qvec")).as("d2"))
          .orderBy(col("d2"), col("clabel"))
          .limit(4)
          .select(col("clabel").as("label"))
        val shortl = pqAdc(s, d)
          .join(T.embeddings(s, d).select(col("vec_id"), col("label")), "vec_id")
          .join(broadcast(probes), "label")
          .orderBy(col("adc14"), col("vec_id"))
          .limit(10)
          .select("vec_id")
        val q = T.embeddings(s, d).where(col("vec_id") === 0)
          .select(col("embedding").as("qe"))
        val cos = scaledCos("embedding", "qe")
        T.embeddings(s, d)
          .join(shortl, "vec_id")
          .crossJoin(broadcast(q))
          .withColumn("cr", cos)
          .orderBy(col("cr").desc, col("vec_id"))
          .limit(10)
          .select(col("vec_id"), col("label"), s6(col("cr")).as("cos_sim"))
      }),

    // ANN recall evaluation (round 10, third wave) — "measure, don't
    // guess" applied to the ANN ladder itself: every production ANN
    // deployment is judged by recall@k against the exact ranking, so
    // the eval harness is a first-class operator. One row grades BOTH
    // scale paths at once: the IVF candidate set (the 2 probed cells,
    // llm_ann_ivf's probe law verbatim) and the sign-LSH candidate set
    // (llm_ann_lsh's bucket law verbatim) are each intersected with the
    // EXACT top-10 (llm_cosine_topk's scaled-long cosine ranking, ties
    // by vec_id) — candidate counts and hit counts are pure integers,
    // so the recall statistic needs no float tolerance anywhere. At
    // archive scale the exact pass runs on a HELD-OUT evaluation slice
    // (this corpus IS the slice) while the candidate laws are
    // metadata-cheap — the standard recall-eval protocol.
    Q("llm_ann_recall_eval", Some {
      val (projCols, bucketExpr) = signSql(8)
      "WITH ux AS (SELECT vec_id, label, CAST(UNNEST(embedding) AS DOUBLE) AS x, " +
        "UNNEST(RANGE(1, LEN(embedding) + 1)) AS i FROM embeddings), " +
        "q AS (SELECT i, x AS qx FROM ux WHERE vec_id = 0), " +
        "nq AS (SELECT SUM(CAST(FLOOR(qx * qx * 1e14 + 0.5) AS BIGINT)) AS nl FROM q), " +
        "alld AS (SELECT u.vec_id, " +
        "SUM(CAST(FLOOR(u.x * q.qx * 1e14 + 0.5) AS BIGINT)) AS dotl, " +
        "SUM(CAST(FLOOR(u.x * u.x * 1e14 + 0.5) AS BIGINT)) AS nl " +
        "FROM ux u JOIN q ON u.i = q.i WHERE u.vec_id <> 0 GROUP BY u.vec_id), " +
        "cosd AS (SELECT vec_id, (CAST(dotl AS DOUBLE) / 1e14) / " +
        "(SQRT(CAST(nl AS DOUBLE) / 1e14) * SQRT((SELECT CAST(nl AS DOUBLE) FROM nq) / 1e14)) AS c " +
        "FROM alld), " +
        "top10 AS (SELECT vec_id FROM cosd ORDER BY c DESC, vec_id LIMIT 10), " +
        "cent AS (SELECT label AS clabel, i, " + sqlMean6("x") + " AS c6 " +
        "FROM ux GROUP BY clabel, i), " +
        "probes AS (SELECT clabel FROM (" +
        "SELECT clabel, SUM(CAST(FLOOR((CAST(c6 AS DOUBLE) / 1e6 - qx) * (CAST(c6 AS DOUBLE) / 1e6 - qx) * 1e14 + 0.5) AS BIGINT)) AS d2 " +
        "FROM cent JOIN q USING (i) GROUP BY clabel) x ORDER BY d2, clabel LIMIT 2), " +
        "ivfc AS (SELECT DISTINCT e.vec_id FROM embeddings e " +
        "JOIN probes p ON e.label = p.clabel WHERE e.vec_id <> 0), " +
        s"projs AS (SELECT vec_id, $projCols FROM ux GROUP BY vec_id), " +
        s"bkt AS (SELECT vec_id, CAST($bucketExpr AS BIGINT) AS bucket FROM projs), " +
        "qb AS (SELECT bucket AS qbucket FROM bkt WHERE vec_id = 0), " +
        "lshc AS (SELECT b.vec_id FROM bkt b JOIN qb ON b.bucket = qb.qbucket " +
        "WHERE b.vec_id <> 0) " +
        "SELECT CAST((SELECT COUNT(*) FROM ivfc) AS BIGINT) AS n_cand_ivf, " +
        "CAST((SELECT COUNT(*) FROM top10 t JOIN ivfc USING (vec_id)) AS BIGINT) AS hits_ivf10, " +
        "CAST((SELECT COUNT(*) FROM lshc) AS BIGINT) AS n_cand_lsh, " +
        "CAST((SELECT COUNT(*) FROM top10 t JOIN lshc USING (vec_id)) AS BIGINT) AS hits_lsh10"
    },
      (s, d) => {
        import graft.functions.VectorExprs.sl2
        val emb = T.embeddings(s, d)
        val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qe"))
        val cos = scaledCos("embedding", "qe")
        val top10 = emb.where(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .withColumn("c", cos)
          .orderBy(col("c").desc, col("vec_id"))
          .limit(10)
          .select(col("vec_id"))
          .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        // IVF candidate law (llm_ann_ivf's probes, verbatim)
        val ux = emb
          .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "xf")))
          .withColumn("x", col("xf").cast("double"))
        val cent = ux.groupBy(col("label").as("clabel"), col("pos"))
          .agg((graft.Det.mean6(col("x")).cast("double") / lit(1e6)).as("c"))
        val centArr = cent.groupBy("clabel")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
            e => e.getField("c")).as("cvec"))
        val qArr = emb.where(col("vec_id") === 0)
          .select(transform(col("embedding"), x => x.cast("double")).as("qvec"))
        val probes = centArr.crossJoin(broadcast(qArr))
          .select(col("clabel"), sl2(col("cvec"), col("qvec")).as("d2"))
          .orderBy(col("d2"), col("clabel"))
          .limit(2)
          .select(col("clabel").as("label"))
        val ivfc = emb.join(broadcast(probes), "label")
          .where(col("vec_id") =!= 0).select("vec_id")
          .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        // sign-LSH candidate law (llm_ann_lsh's buckets, verbatim)
        def sgn(plane: Int) =
          when(pmod(hash32(concat_ws(":", lit(plane), col("pos"))), lit(2)) === 0, 1d)
            .otherwise(-1d)
        val projCols2 = (0 until 8).map(p =>
          sum(floor(col("x") * sgn(p) * lit(1e14) + lit(0.5))).as(s"proj$p"))
        val bucket = (0 until 8).map(p =>
          when(col(s"proj$p") > 0, lit(1L << p)).otherwise(0L)).reduce(_ + _)
        val sigs = ux.groupBy("vec_id")
          .agg(projCols2.head, projCols2.tail: _*)
          .select(col("vec_id"), bucket.as("bucket"))
          .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        val qb = sigs.where(col("vec_id") === 0).select(col("bucket").as("qbucket"))
        val lshc = sigs.crossJoin(broadcast(qb))
          .where(col("bucket") === col("qbucket") && col("vec_id") =!= 0)
          .select("vec_id")
          .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        val nIvf = ivfc.agg(count(lit(1)).as("n_cand_ivf"))
        val hIvf = top10.join(ivfc, "vec_id").agg(count(lit(1)).as("hits_ivf10"))
        val nLsh = lshc.agg(count(lit(1)).as("n_cand_lsh"))
        val hLsh = top10.join(lshc, "vec_id").agg(count(lit(1)).as("hits_lsh10"))
        nIvf.crossJoin(broadcast(hIvf))
          .crossJoin(broadcast(nLsh)).crossJoin(broadcast(hLsh))
      }),

    // Graph-ANN rung: derandomized NSW beam search (round 13, VERDICT
    // r12 item 2) — the index family real billion-vector search deploys
    // most [Malkov & Yashunin 2018, HNSW; hnswlib/FAISS HNSW], added as
    // the FIFTH rung of the ANN ladder (LSH → IVF → PQ → IVF-PQ → NSW).
    // Everything randomized in the paper is hash-DERANDOMIZED here:
    //  graph  = per-node top-4 exact neighbors among its sign-LSH
    //           bucket ∪ Hamming-1 buckets (4 planes → 16 cells; the
    //           bucket dictionary is 16 rows, so candidate generation is
    //           equi-joins through a broadcast neighbor-bucket table —
    //           never all-pairs) PLUS 2 small-world shortcuts per node at
    //           hash32('nsw:'||h||':'||id) % n (the long-range links that
    //           make the graph navigable), symmetrized;
    //  search = fixed-width beam from one hash-chosen entry: T=5 rounds
    //           of expand-beam-neighbors → union into visited → keep the
    //           24 visited nodes nearest the query by scaled-long L2
    //           (ties by id). Per round ONE equi join of a ≤24-row beam
    //           against the adjacency — broadcast here, shuffle-on-node
    //           at web scale, the exact distributed-beam schedule.
    // Graded surface: the final top-10 candidates ranked by the exact
    // scaled-dot cosine (the llm_ann_lsh ranking law), each row carrying
    // its membership in the EXACT top-10 plus the visited-count budget.
    // MEASURED on this ANN-hostile 64-dim uniform corpus: hits@10 = 9/10
    // (sf0.01) and 8/10 (sf0.001) at ~310 visited — above the IVF-PQ
    // rung's 6-7/10 at ~200 probed (llm_ann_ivfpq; AnnPropertySpec pins
    // nsw-hits ≥ ivf-hits). The query-distance table qd is one map-side
    // broadcast-query pass (restrict it to visited nodes at scale).
    Q("llm_ann_nsw", Some {
      val (projCols, bucketExpr) = signSql(NswPlanes)
      UxSql + QuerySql +
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings), " +
        s"projs AS (SELECT vec_id, $projCols FROM ux GROUP BY vec_id), " +
        s"bkt AS MATERIALIZED (SELECT vec_id, CAST($bucketExpr AS BIGINT) AS bucket FROM projs), " +
        flatKnnSql +
        "sc AS (SELECT s, t FROM (SELECT vec_id AS s, " +
        sqlHash32("'nsw:' || CAST(h AS VARCHAR) || ':' || CAST(vec_id AS VARCHAR)") +
        " % (SELECT n FROM nn) AS t FROM embeddings, " +
        s"(SELECT UNNEST([0,1]) AS h) hh) x WHERE t <> s), " +
        adjSql("") + ", " +
        "qd AS MATERIALIZED (SELECT u.vec_id, " +
        "SUM(CAST(FLOOR((u.x - q.qx) * (u.x - q.qx) * 1e14 + 0.5) AS BIGINT)) AS d2 " +
        "FROM ux u JOIN q ON u.i = q.i GROUP BY u.vec_id), " +
        "ent AS (SELECT CASE WHEN e0 <> 0 THEN e0 ELSE e1 END AS v FROM (SELECT " +
        sqlHash32("'nsw:entry:0'") + " % (SELECT n FROM nn) AS e0, " +
        sqlHash32("'nsw:entry:1'") + " % (SELECT n FROM nn) AS e1)), " +
        querySearchSql("", "adj", "ent", NswSteps, NswBeam, " WHERE adj.t <> 0") + ", " +
        s"cand AS (SELECT v AS vec_id FROM v$NswSteps WHERE v <> 0), " +
        QueryTopTenSql
    },
      (s, d) => annNsw(s, d, annUnderGate(d)).graded),

    // BATCHED multi-query IVF ANN (round 14, VERDICT r13 item 1) — the
    // throughput shape production similarity search actually runs at
    // 100 TB [FAISS batch search, PK], which none of the five
    // single-query rungs (all graded at vec_id = 0) exercises: EVERY
    // odd vec_id is a query against the even-id index, and the whole
    // batch flows through the IVF quantizer with NO per-query loop and
    // NO cartesian. Stages: (1) cells = label clusters with mean6
    // centroids trained on the INDEX half only (llm_ann_ivf's
    // quantizer); (2) probe assignment: all queries × the ≤10-cell
    // broadcast centroid table, per-query 2-probe pick by one
    // row_number window — the only non-equi stage, bounded by the cell
    // count, the LOF-funnel broadcast-quantizer shape; (3) the ONE
    // scalable equi-join: (query, probed cell) joins index membership
    // on the cell id — at archive scale the query batch broadcasts and
    // the sharded index streams; (4) exact scaled-long cosine per
    // candidate and a per-query top-10 by row_number over qid — Spark
    // plans the rank filter as WindowGroupLimit below the exchange.
    // Determinism is the llm_ann_ivf chain verbatim: mean6 centroids,
    // scaled-long probe distances, scaled-long dots, ranking doubles
    // derived from identical longs on both engines. Query and index
    // halves are disjoint, so no self-match lane exists.
    Q("llm_ann_batch_ivf", Some(
      "WITH ux AS (SELECT vec_id, label, CAST(UNNEST(embedding) AS DOUBLE) AS x, " +
        "UNNEST(RANGE(1, LEN(embedding) + 1)) AS i FROM embeddings), " +
        "idx AS (SELECT * FROM ux WHERE vec_id % 2 = 0), " +
        "qx AS (SELECT vec_id AS qid, i, x AS qx FROM ux WHERE vec_id % 2 = 1), " +
        "cent AS (SELECT label AS clabel, i, " + sqlMean6("x") + " AS c6 " +
        "FROM idx GROUP BY clabel, i), " +
        "pd AS (SELECT qid, clabel, " +
        "SUM(CAST(FLOOR((CAST(c6 AS DOUBLE) / 1e6 - qx) * (CAST(c6 AS DOUBLE) / 1e6 - qx) * 1e14 + 0.5) AS BIGINT)) AS d2 " +
        "FROM cent JOIN qx USING (i) GROUP BY qid, clabel), " +
        "probes AS (SELECT qid, clabel FROM (SELECT qid, clabel, " +
        "ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, clabel) AS pr FROM pd) WHERE pr <= 2), " +
        "nrm AS (SELECT vec_id, SUM(CAST(FLOOR(x * x * 1e14 + 0.5) AS BIGINT)) AS nl " +
        "FROM ux GROUP BY vec_id), " +
        "cand AS (SELECT q.qid, u.vec_id, " +
        "SUM(CAST(FLOOR(u.x * q.qx * 1e14 + 0.5) AS BIGINT)) AS dotl " +
        "FROM idx u JOIN probes p ON u.label = p.clabel " +
        "JOIN qx q ON q.qid = p.qid AND q.i = u.i GROUP BY q.qid, u.vec_id), " +
        "cosd AS (SELECT c.qid, c.vec_id, (CAST(c.dotl AS DOUBLE) / 1e14) / " +
        "(SQRT(CAST(ni.nl AS DOUBLE) / 1e14) * SQRT(CAST(nq.nl AS DOUBLE) / 1e14)) AS cc " +
        "FROM cand c JOIN nrm ni ON ni.vec_id = c.vec_id JOIN nrm nq ON nq.vec_id = c.qid) " +
        "SELECT qid AS query_id, CAST(rk AS BIGINT) AS rk, vec_id, " + sqlS6("cc") + " AS cos_sim " +
        "FROM (SELECT qid, vec_id, cc, " +
        "ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cc DESC, vec_id) AS rk FROM cosd) " +
        "WHERE rk <= 10 ORDER BY query_id, rk"),
      (s, d) => {
        import graft.functions.VectorExprs.sl2
        val emb = T.embeddings(s, d)
        val idx = emb.where(col("vec_id") % 2 === 0)
        val qs = emb.where(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("qid"),
            transform(col("embedding"), x => x.cast("double")).as("qvec"),
            col("embedding").as("qe"))
          .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        val ux = idx
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "xf")))
          .withColumn("x", col("xf").cast("double"))
        val centArr = ux.groupBy(col("label").as("clabel"), col("pos"))
          .agg((mean6(col("x")).cast("double") / lit(1e6)).as("c"))
          .groupBy("clabel")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
            e => e.getField("c")).as("cvec"))
        // batched probe assignment: one ≤10-row broadcast, one window
        val probes = qs.select(col("qid"), col("qvec"))
          .crossJoin(broadcast(centArr))
          .select(col("qid"), col("clabel"), sl2(col("cvec"), col("qvec")).as("d2"))
          .withColumn("pr", row_number().over(
            Window.partitionBy("qid").orderBy(col("d2"), col("clabel"))))
          .where(col("pr") <= 2)
          .select(col("qid"), col("clabel").as("label"))
        val cos = scaledCos("embedding", "qe")
        idx.select(col("vec_id"), col("label"), col("embedding"))
          .join(embBcast(d)(probes.join(qs.select(col("qid"), col("qe")), "qid")),
            "label")
          .withColumn("cos_raw", cos)
          .withColumn("rk", row_number().over(
            Window.partitionBy("qid").orderBy(col("cos_raw").desc, col("vec_id"))).cast("long"))
          .where(col("rk") <= 10)
          .select(col("qid").as("query_id"), col("rk"), col("vec_id"),
            s6(col("cos_raw")).as("cos_sim"))
          .orderBy("query_id", "rk")
      }),

    // BATCHED PQ-ADC ANN (round 15) — the last single-query-only rung
    // gets its throughput form [Jégou, Douze & Schmid 2011 §V; FAISS
    // batch ADC scan, PK]: codebooks are Lloyd-trained on the even-id
    // INDEX half only (proper train/query split — the upsert key's
    // frozen-quantizer discipline), every odd vec_id builds its 16×16
    // LUT in ONE broadcast join (the codebook is M·K packed subvectors —
    // bounded at any corpus size), and the ADC scan is codes ⋈ LUT on
    // (m, ck) + one (qid, vec) partial agg — compression's full-scan
    // cost by design (PQ prunes MEMORY, not candidates; IVF-PQ adds the
    // pruning). Search = ADC shortlist(50) → exact scaled-long rerank
    // per query (the ADC-R protocol of the single-query rung), both as
    // per-query WindowGroupLimit heaps. The scan join broadcasts the
    // size-gated CODES side (16 small ints per index vector — the
    // compressed index IS what PQ keeps in RAM; at 100× the hint drops
    // and the scan shards by qid batch). MEASURED mean recall@10:
    // 0.896 (sf0.01) / 0.905 (sf0.001) — the single-query rung's 0.9
    // carried to the whole batch, and the highest-recall batch surface
    // in the registry (vs batch-HNSW 0.792, batch-NSW 0.784, batch-IVF
    // 0.33), at the price of the full ADC scan per query.
    Q("llm_ann_batch_pq", Some {
      val rounds = (1 to PqRounds).map { r =>
        val centJoin =
          if (r == 1) "seeds s ON u.pos = s.pos"
          else s"(SELECT ck, pos, CAST(c6 AS DOUBLE) / 1e6 AS c FROM cent${r - 1}) s ON u.pos = s.pos"
        s"dist$r AS MATERIALIZED (SELECT u.vec_id, u.m, s.ck, " +
          "CAST(SUM(CAST(FLOOR((u.x - s.c) * (u.x - s.c) * 1e14 + 0.5) AS BIGINT)) AS BIGINT) AS d2 " +
          s"FROM ux u JOIN $centJoin GROUP BY u.vec_id, u.m, s.ck), " +
          s"asg$r AS MATERIALIZED (SELECT vec_id, m, ck FROM (SELECT vec_id, m, ck, " +
          s"ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, ck) AS rn FROM dist$r) WHERE rn = 1), " +
          s"cent$r AS MATERIALIZED (SELECT a.m, a.ck, u.pos, " + sqlMean6("u.x") + " AS c6 " +
          s"FROM ux u JOIN asg$r a ON a.vec_id = u.vec_id AND a.m = u.m GROUP BY a.m, a.ck, u.pos)"
      }.mkString(", ")
      s"WITH uxAll AS (SELECT vec_id, pos, x, pos // $PqSub AS m FROM (" +
        "SELECT vec_id, UNNEST(RANGE(0, LEN(embedding))) AS pos, " +
        "CAST(UNNEST(embedding) AS DOUBLE) AS x FROM embeddings)), " +
        "ux AS (SELECT * FROM uxAll WHERE vec_id % 2 = 0), " +
        s"seeds AS (SELECT vec_id // 2 - 1 AS ck, pos, x AS c FROM ux WHERE vec_id BETWEEN 2 AND ${2 * PqK}), " +
        rounds + ", " +
        "qx AS (SELECT vec_id AS qid, pos, m, x AS qx FROM uxAll WHERE vec_id % 2 = 1), " +
        "lutb AS MATERIALIZED (SELECT q.qid, c.m, c.ck, " +
        "CAST(SUM(CAST(FLOOR((CAST(c.c6 AS DOUBLE) / 1e6 - q.qx) * (CAST(c.c6 AS DOUBLE) / 1e6 - q.qx) * 1e14 + 0.5) AS BIGINT)) AS BIGINT) AS d2 " +
        s"FROM cent$PqRounds c JOIN qx q ON q.pos = c.pos GROUP BY q.qid, c.m, c.ck), " +
        s"adcb AS MATERIALIZED (SELECT l.qid, a.vec_id, CAST(SUM(l.d2) AS BIGINT) AS adc14 " +
        s"FROM asg$PqRounds a JOIN lutb l ON l.m = a.m AND l.ck = a.ck GROUP BY l.qid, a.vec_id), " +
        "short AS (SELECT qid, vec_id FROM (SELECT qid, vec_id, " +
        s"ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc14, vec_id) AS rn FROM adcb) WHERE rn <= $PqShort), " +
        "nrm AS (SELECT vec_id, SUM(CAST(FLOOR(x * x * 1e14 + 0.5) AS BIGINT)) AS nl " +
        "FROM uxAll GROUP BY vec_id), " +
        "dq AS (SELECT s.qid, s.vec_id, " +
        "SUM(CAST(FLOOR(u.x * q.x * 1e14 + 0.5) AS BIGINT)) AS dotl " +
        "FROM short s JOIN uxAll u ON u.vec_id = s.vec_id " +
        "JOIN uxAll q ON q.vec_id = s.qid AND q.pos = u.pos GROUP BY s.qid, s.vec_id), " +
        "cosd AS (SELECT dq.qid, dq.vec_id, (CAST(dq.dotl AS DOUBLE) / 1e14) / " +
        "(SQRT(CAST(ni.nl AS DOUBLE) / 1e14) * SQRT(CAST(nq2.nl AS DOUBLE) / 1e14)) AS cc " +
        "FROM dq JOIN nrm ni ON ni.vec_id = dq.vec_id JOIN nrm nq2 ON nq2.vec_id = dq.qid) " +
        "SELECT x.qid AS query_id, CAST(x.rk AS BIGINT) AS rk, x.vec_id, " +
        sqlS6("x.cc") + " AS cos_sim " +
        "FROM (SELECT qid, vec_id, cc, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cc DESC, vec_id) AS rk " +
        "FROM cosd) x WHERE x.rk <= 10 ORDER BY query_id, rk"
    },
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import graft.functions.VectorExprs.sl2
        val subvecs = pqSubvecs(s, d)
        // Lloyd codes + codebook trained in-plan per invocation
        // ([[bpqLloydTrained]]); then LUT build + ADC scan + rerank
        val (codes, centPacked) = bpqLloydTrained(s, d)
        // batched LUTs: every query × the bounded M·K codebook, one
        // broadcast join, map-only sl2 per cell
        val lutB = subvecs.where(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("qid"), col("m"), col("dvec"))
          .join(broadcast(centPacked), "m")
          .select(col("qid"), col("m"), col("ck"),
            sl2(col("dvec"), col("cvec")).as("d2"))
        // round 17 (guide §2.3/§2.5): the ADC scan used to expand
        // |Q|·|N|·M rows through a join on (m, ck) + SUM aggregate —
        // ~100M rows at sf0.1, and all of it in ONE task because the
        // query scan is a single parquet split (profiled: one 3.0 s
        // serial stage in a 32-core session). Now each query's M·K LUT
        // packs into ONE row-major array (the groupBy(qid) exchange
        // doubles as the parallelizer: hash(qid) spreads queries AND
        // satisfies the shortlist window below), each vector's code
        // words pack into one int array, and the scan is a Q×N pair
        // cross join scoring pairs with the native graft_pqadc kernel —
        // M× fewer rows materialized, no aggregate. Long addition is
        // order-free, so adc14 is bit-identical to the former SUM.
        // A pruned centroid would misalign the row-major indexing, so
        // the pack FAILS LOUDLY if any (m, ck) cell is missing (the
        // vocabulary-guard discipline); Lloyd never drops a cell on the
        // graded corpora.
        val lutPacked = lutB
          .groupBy("qid")
          .agg(transform(array_sort(collect_list(struct(col("m"), col("ck"), col("d2")))),
            e => e.getField("d2")).as("lut"))
          .select(col("qid"),
            when(size(col("lut")) === lit(PqM * PqK), col("lut"))
              .otherwise(raise_error(concat(
                lit(s"llm_ann_batch_pq: LUT cells != ${PqM * PqK} (dead centroid) - "),
                size(col("lut")).cast("string")))).as("lut"))
        val codesPacked = codes
          .groupBy("vec_id")
          .agg(transform(array_sort(collect_list(struct(col("m"), col("ck")))),
            e => e.getField("ck").cast("int")).as("code"))
        val adcb = lutPacked
          .crossJoin(embBcast(d)(codesPacked))
          .select(col("qid"), col("vec_id"),
            graft.functions.VectorExprs.pqadc(col("lut"), col("code")).as("adc14"))
        val short = adcb.withColumn("rn", row_number().over(
            Window.partitionBy("qid").orderBy(col("adc14"), col("vec_id"))))
          .where(col("rn") <= PqShort)
          .select("qid", "vec_id")
        val emb = T.embeddings(s, d)
        val qs = emb.where(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val cos = scaledCos("embedding", "qe")
        short
          .join(embBcast(d)(emb.select(col("vec_id"), col("embedding"))), "vec_id")
          .join(embBcast(d)(qs), "qid")
          .withColumn("cc", cos)
          .withColumn("rk", row_number().over(
            Window.partitionBy("qid").orderBy(col("cc").desc, col("vec_id"))).cast("long"))
          .where(col("rk") <= 10)
          .select(col("qid").as("query_id"), col("rk"), col("vec_id"),
            s6(col("cc")).as("cos_sim"))
          .orderBy("query_id", "rk")
      }),

    // BATCHED graph-search ANN (round 14 second wave) — the scale-safe
    // alternative the r13 verdict named at llm_ann_nsw's per-query
    // loop: beam state keyed by query_id, so EVERY round is one
    // frontier⋈adjacency equi-join plus one per-query window for ALL
    // queries at once — 5 checkpointed jobs total for the whole batch,
    // query-count-independent orchestration. Geometry and census at
    // [[BnswSteps]]; graph = the NSW wiring on the even-id index half
    // (dense ids make shortcut/entry ranks pure arithmetic: member r ↔
    // vec_id 2r, no rank table). Graded per query: top-10 among
    // visited by exact scaled-long cosine + the visited budget.
    Q("llm_ann_batch_nsw", Some {
      val (projCols, bucketExpr) = signSql(NswPlanes)
      UxSql +
        s"projs AS (SELECT vec_id, $projCols FROM ux WHERE vec_id % 2 = 0 GROUP BY vec_id), " +
        s"bkt AS MATERIALIZED (SELECT vec_id, CAST($bucketExpr AS BIGINT) AS bucket FROM projs), " +
        flatKnnSql +
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bkt), " +
        "sc AS (SELECT s, t FROM (SELECT vec_id AS s, 2 * (" +
        sqlHash32("'bnsw:sc:' || CAST(h AS VARCHAR) || ':' || CAST(vec_id AS VARCHAR)") +
        " % (SELECT n FROM nn)) AS t FROM bkt, (SELECT UNNEST([0,1]) AS h) hh) x WHERE t <> s), " +
        adjSql("") + ", " +
        BatchQdSql +
        "ent AS (SELECT 2 * (" + sqlHash32("'bnsw:entry:0'") + " % (SELECT n FROM nn)) AS v), " +
        "v0 AS (SELECT q.vec_id AS qid, e.v FROM " +
        "(SELECT DISTINCT vec_id FROM ux WHERE vec_id % 2 = 1) q, ent e), " +
        "b0 AS (SELECT qid, v FROM v0), " +
        batchRoundsSql("", "adj", BnswSteps, BnswBeam) + ", " +
        batchTopTenSql(s"v$BnswSteps")
    },
      (s, d) => annBatchNsw(s, d, annUnderGate(d)).graded),

    // Hierarchical NSW (round 14) — see the [[HnswStepsU]] scaladoc for
    // geometry + measured census. The graph EXCLUDES the query vector
    // (no zero-guards anywhere, unlike the flat rung); layers reuse the
    // flat rung's sign planes, pool rule and edge budget verbatim, so
    // the ONLY new machinery graded here is the geometric layer
    // assignment and the descent. Oracle = per-layer graph CTEs + the
    // unrolled 2/2/4-round descent (the llm_ann_nsw pattern).
    Q("llm_ann_hnsw", Some {
      val (projCols, bucketExpr) = signSql(NswPlanes)
      def bestOf(name: String, src: String): String =
        s"$name AS (SELECT v FROM (SELECT vv.v, ROW_NUMBER() OVER (ORDER BY qd.d2, vv.v) AS rn " +
          s"FROM $src vv JOIN qd ON qd.vec_id = vv.v) WHERE rn = 1)"
      UxSql + QuerySql +
        s"projs AS (SELECT vec_id, $projCols FROM ux WHERE vec_id <> 0 GROUP BY vec_id), " +
        s"bkt AS MATERIALIZED (SELECT vec_id, CAST($bucketExpr AS BIGINT) AS bucket FROM projs), " +
        layersSql("embeddings WHERE vec_id <> 0", "hnsw:sc:") +
        "qd AS MATERIALIZED (SELECT u.vec_id, " +
        "SUM(CAST(FLOOR((u.x - q.qx) * (u.x - q.qx) * 1e14 + 0.5) AS BIGINT)) AS d2 " +
        "FROM ux u JOIN q ON u.i = q.i WHERE u.vec_id <> 0 GROUP BY u.vec_id), " +
        "ent AS (SELECT r.vec_id AS v FROM rkm2 r WHERE r.rk = " +
        sqlHash32("'hnsw:entry:0'") + " % (SELECT n FROM nn2)), " +
        querySearchSql("a", "adj2", "ent", HnswStepsU, HnswBeamU) + ", " +
        bestOf("s1", s"va$HnswStepsU") + ", " +
        querySearchSql("b", "adj1", "s1", HnswStepsU, HnswBeamU) + ", " +
        bestOf("s0", s"vb$HnswStepsU") + ", " +
        querySearchSql("c", "adj0", "s0", HnswSteps0, NswBeam) + ", " +
        s"cand AS (SELECT DISTINCT v AS vec_id FROM (SELECT v FROM va$HnswStepsU " +
        s"UNION ALL SELECT v FROM vb$HnswStepsU UNION ALL SELECT v FROM vc$HnswSteps0)), " +
        QueryTopTenSql
    },
      (s, d) => annHnsw(s, d, annUnderGate(d)).graded),

    // BATCHED hierarchical NSW (round 15, VERDICT r14 item 3) — the
    // llm_ann_batch_nsw machinery (beam state keyed by query_id, one
    // frontier⋈adjacency equi-join + one per-query window per round for
    // the WHOLE batch) descending the llm_ann_hnsw layers (geometric
    // hash levels p=1/4 cap 2 over the even-id index half). This both
    // grades the throughput×hierarchy cell the two round-14 rungs left
    // open AND amortizes the expensive layered build across the whole
    // query set — the structural answer to hnsw's single-query cost.
    // Geometry + measured recall/budget at [[BhnswSteps0]]. Broadcasts
    // on corpus-proportional sides are size-gated ([[embBcast]]).
    Q("llm_ann_batch_hnsw", Some {
      val (projCols, bucketExpr) = signSql(NswPlanes)
      // per-layer graph CTEs: llm_ann_hnsw's wiring verbatim (membership
      // joins the same lvl rule) restricted to the even-id index, with
      // batch-specific shortcut salt
      UxSql +
        s"projs AS (SELECT vec_id, $projCols FROM ux WHERE vec_id % 2 = 0 GROUP BY vec_id), " +
        s"bkt AS MATERIALIZED (SELECT vec_id, CAST($bucketExpr AS BIGINT) AS bucket FROM projs), " +
        layersSql("embeddings WHERE vec_id % 2 = 0", "bhnsw:sc:") +
        BatchQdSql +
        "ent AS (SELECT r.vec_id AS v FROM rkm2 r WHERE r.rk = " +
        sqlHash32("'bhnsw:entry:0'") + " % (SELECT n FROM nn2)), " +
        "seed2 AS (SELECT q.vec_id AS qid, e.v FROM " +
        "(SELECT DISTINCT vec_id FROM ux WHERE vec_id % 2 = 1) q, ent e), " +
        batchDescentSql +
        batchTopTenSql("cand")
    },
      (s, d) => annBatchHnsw(s, d, annUnderGate(d)).graded),

    // Incremental insert for the GRAPH index family (round 16, VERDICT
    // r15 missing #1) — the hnswlib/FAISS-HNSW add()-after-build law
    // [Malkov & Yashunin 2018 §4 insert; PK hnswlib add()]: production
    // graph indexes grow by DESCENT + LOCAL RE-LINK against a frozen
    // graph, never by rebuild. The non-query corpus splits by
    // llm_ann_ivf_upsert's hash (~25% delta); the frozen layered graph
    // wires the ~75% base members only ([[hnswLayers]] — 'hnsw:lvl:'
    // levels, 'uhnsw:sc:' shortcuts); every delta node then descends it
    // BATCHED (the llm_ann_batch_hnsw machinery verbatim: one shared
    // entry, beam-1 upper rounds, beam-12 flat rounds at layer 0, beam
    // state keyed by the inserting node) and re-links to the NswM=4
    // nearest members of its own VISITED set by scaled-long L2 (ties →
    // smallest id) — hnswlib's select-neighbors-simple over the search
    // frontier, with insertion level pinned to 0 (the graded
    // simplification; multi-level insertion is the same law per layer).
    // Graded surface: every delta's full link list (target, exact d2)
    // plus its visited budget — the merged graph IS base ∪ these rows,
    // so the hash pins the entire incremental wiring. Scale shape:
    // ONE batched descent (jobs independent of delta count), link pick
    // is a per-qid WindowGroupLimit heap; no all-pairs anywhere.
    // Round16OpsSpec grades insertion QUALITY separately: mean
    // link-recall@4 of inserted links vs each delta's exact 4-NN among
    // base (the merged-vs-rebuilt parity lemma).
    Q("llm_ann_hnsw_upsert", Some {
      val (projCols, bucketExpr) = signSql(NswPlanes)
      UxSql +
        "flags AS (SELECT vec_id, CASE WHEN " +
        sqlHash32("'upsert:' || CAST(vec_id AS VARCHAR)") +
        " % 4 = 0 THEN 1 ELSE 0 END AS is_delta FROM embeddings WHERE vec_id <> 0), " +
        s"projs AS (SELECT ux.vec_id AS vec_id, $projCols FROM ux " +
        "JOIN flags ON flags.vec_id = ux.vec_id AND flags.is_delta = 0 GROUP BY ux.vec_id), " +
        s"bkt AS MATERIALIZED (SELECT vec_id, CAST($bucketExpr AS BIGINT) AS bucket FROM projs), " +
        layersSql("flags WHERE is_delta = 0", "uhnsw:sc:") +
        "qd AS MATERIALIZED (SELECT q.vec_id AS qid, u.vec_id AS v, " +
        "SUM(CAST(FLOOR((u.x - q.x) * (u.x - q.x) * 1e14 + 0.5) AS BIGINT)) AS d2 " +
        "FROM ux u JOIN flags fu ON fu.vec_id = u.vec_id AND fu.is_delta = 0 " +
        "JOIN ux q ON q.i = u.i JOIN flags fq ON fq.vec_id = q.vec_id AND fq.is_delta = 1 " +
        "GROUP BY qid, v), " +
        "ent AS (SELECT r.vec_id AS v FROM rkm2 r WHERE r.rk = " +
        sqlHash32("'uhnsw:entry:0'") + " % (SELECT n FROM nn2)), " +
        "seed2 AS (SELECT q.vec_id AS qid, e.v FROM " +
        "(SELECT vec_id FROM flags WHERE is_delta = 1) q, ent e), " +
        batchDescentSql +
        "nvq AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_visited FROM cand GROUP BY qid) " +
        "SELECT x.qid AS query_id, CAST(x.rk AS BIGINT) AS rk, x.v AS vec_id, " +
        "CAST(x.d2 AS BIGINT) AS d2, nvq.n_visited " +
        "FROM (SELECT c.qid, c.v, qd.d2, " +
        "ROW_NUMBER() OVER (PARTITION BY c.qid ORDER BY qd.d2, c.v) AS rk " +
        "FROM cand c JOIN qd ON qd.qid = c.qid AND qd.v = c.v) x " +
        s"JOIN nvq ON nvq.qid = x.qid WHERE x.rk <= $NswM ORDER BY query_id, rk"
    },
      (s, d) => annHnswUpsert(s, d, annUnderGate(d)).graded),

    // TRAINED language-ID: multinomial Naive Bayes (round 13) — the
    // classic scalable text classifier [McCallum & Nigam 1998] beside
    // llm_langid's fixed stopword threshold, under the llm_bpe_train
    // train/apply discipline: word-unigram likelihoods with Laplace +1
    // smoothing over the TRAIN half's vocabulary (even doc_ids) and
    // doc priors are estimated on train only; odd-doc_id documents are
    // classified by the integer argmax of prior6 + Σ count·lp6, where
    // every ln goes through the portable lnRatio and is s6-floored
    // BEFORE the weighted sum (the llm_unigram_logprob discipline) —
    // so the score, the argmax and the graded confusion matrix are
    // exact integers on both engines. MEASURED accuracy 0.368 (sf0.01)
    // / 0.336 (sf0.001) against the 0.2 five-lang chance floor — the
    // honest ceiling on this synthetic corpus, whose languages share
    // one 31-word vocabulary and differ only in mixture proportions
    // (the pq_recall honesty discipline; Round13OpsSpec pins diagonal
    // mass ≥ 1.2× chance and mirrors the whole train/score/argmax
    // scalar-side). Scale shape: training is ONE token shuffle, the
    // likelihood table is a langs×|V| broadcast grid, scoring is a
    // map-side join + one (doc, candidate) partial agg — textbook
    // distributed NB.
    Q("llm_langid_nb", Some(
      "WITH tr AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 0), " +
        "te AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 1), " +
        "tt AS (SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM tr), " +
        "cnt AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM tt GROUP BY lang, w), " +
        "voc AS (SELECT DISTINCT w FROM tt), " +
        "vn AS (SELECT CAST(COUNT(*) AS BIGINT) AS vn FROM voc), " +
        "tot AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS t FROM tt GROUP BY lang), " +
        "lg AS (SELECT DISTINCT lang FROM tr), " +
        "nd AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nd FROM tr GROUP BY lang), " +
        "na AS (SELECT CAST(COUNT(*) AS BIGINT) AS na FROM tr), " +
        "lp AS (SELECT lg.lang, voc.w, " +
        sqlS6(Det.sqlLnRatio("COALESCE(cnt.c, 0) + 1", "tot.t + (SELECT vn FROM vn)")) +
        " AS lp6 FROM lg CROSS JOIN voc " +
        "LEFT JOIN cnt ON cnt.lang = lg.lang AND cnt.w = voc.w " +
        "JOIN tot ON tot.lang = lg.lang), " +
        "pri AS (SELECT lang, " + sqlS6(Det.sqlLnRatio("nd", "(SELECT na FROM na)")) +
        " AS prior6 FROM nd), " +
        "dt AS (SELECT doc_id, true_lang, w, CAST(COUNT(*) AS BIGINT) AS cw FROM " +
        "(SELECT doc_id, lang AS true_lang, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM te) " +
        "GROUP BY doc_id, true_lang, w), " +
        "sc AS (SELECT dt.doc_id, dt.true_lang, lp.lang AS cand, " +
        "CAST(SUM(dt.cw * lp.lp6) AS BIGINT) AS ll6 " +
        "FROM dt JOIN lp ON lp.w = dt.w GROUP BY dt.doc_id, dt.true_lang, lp.lang), " +
        "sp AS (SELECT sc.doc_id, sc.true_lang, sc.cand, sc.ll6 + pri.prior6 AS score6 " +
        "FROM sc JOIN pri ON pri.lang = sc.cand), " +
        "pk AS (SELECT doc_id, true_lang, cand FROM (SELECT doc_id, true_lang, cand, " +
        "ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score6 DESC, cand) AS rn FROM sp) " +
        "WHERE rn = 1) " +
        "SELECT true_lang AS lang, cand AS pred, CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM pk GROUP BY true_lang, cand ORDER BY lang, pred"),
      (s, d) => {
        val docs = T.documents(s, d)
        val train = docs.where(col("doc_id") % 2 === 0)
        val test = docs.where(col("doc_id") % 2 === 1)
        val tt = train.select(col("lang"), explode(split(col("text"), " ")).as("w"))
          .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        val cnt = tt.groupBy("lang", "w").agg(count(lit(1)).as("c"))
        val voc = tt.select("w").distinct()
        val vn = voc.agg(count(lit(1)).as("vn"))
        val tot = tt.groupBy("lang").agg(count(lit(1)).as("t"))
        val lg = train.select("lang").distinct()
        val nd = train.groupBy("lang").agg(count(lit(1)).as("nd"))
        val na = train.agg(count(lit(1)).as("na"))
        val lp = lg.crossJoin(voc)
          .join(cnt, Seq("lang", "w"), "left")
          .join(broadcast(tot), "lang")
          .crossJoin(broadcast(vn))
          .select(col("lang"), col("w"),
            s6(lnRatio(coalesce(col("c"), lit(0L)) + 1, col("t") + col("vn")))
              .as("lp6"))
        val pri = nd.crossJoin(broadcast(na))
          .select(col("lang"), s6(lnRatio(col("nd"), col("na"))).as("prior6"))
        val dt = test
          .select(col("doc_id"), col("lang").as("true_lang"),
            explode(split(col("text"), " ")).as("w"))
          .groupBy("doc_id", "true_lang", "w").agg(count(lit(1)).as("cw"))
        val sc = dt
          .join(broadcast(lp.withColumnRenamed("lang", "cand")), "w")
          .groupBy("doc_id", "true_lang", "cand")
          .agg(sum(col("cw") * col("lp6")).as("ll6"))
          .join(broadcast(pri.select(col("lang").as("cand"), col("prior6"))), "cand")
          .select(col("doc_id"), col("true_lang"), col("cand"),
            (col("ll6") + col("prior6")).as("score6"))
        sc.withColumn("rn", row_number().over(
            Window.partitionBy("doc_id").orderBy(col("score6").desc, col("cand"))))
          .where(col("rn") === 1)
          .groupBy(col("true_lang").as("lang"), col("cand").as("pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "pred")
      }),

    // Language-ID heuristic: stopword-ratio thresholding (the n-gram
    // frequency detector family, reduced to this corpus's vocabulary);
    // the declared lang column is ground truth for the confusion counts.
    Q("llm_langid", Some(
      "WITH t AS (SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents), " +
        "scored AS (SELECT doc_id, lang, " +
        "CAST(SUM(CASE WHEN tok IN " + StopwordsSqlList + " THEN 1 ELSE 0 END) AS DOUBLE) " +
        "/ CAST(COUNT(*) AS DOUBLE) AS stop_ratio FROM t GROUP BY doc_id, lang) " +
        "SELECT lang, CASE WHEN stop_ratio >= 0.2 THEN 'en_like' ELSE 'other' END AS pred, " +
        "CAST(COUNT(*) AS BIGINT) AS n FROM scored GROUP BY lang, pred ORDER BY lang, pred"),
      (s, d) =>
        tokens(s, d)
          .groupBy("doc_id", "lang")
          .agg((sum(when(col("tok").isin(Stopwords: _*), 1).otherwise(0)).cast("double")
            / count(lit(1)).cast("double")).as("stop_ratio"))
          .groupBy(col("lang"),
            when(col("stop_ratio") >= 0.2, "en_like").otherwise("other").as("pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "pred")),

    // Quality scoring: length, mean token length, stopword ratio, distinct
    // ratio -> composite keep/drop flag (the C4/Gopher-style rule family).
    Q("llm_quality", Some(
      "WITH t AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents), " +
        "m AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok, " +
        sqlMean6("CAST(LENGTH(tok) AS DOUBLE)") + " AS avg_len, " +
        sqlS6("CAST(SUM(CASE WHEN tok IN " + StopwordsSqlList + " THEN 1 ELSE 0 END) AS DOUBLE) " +
          "/ CAST(COUNT(*) AS DOUBLE)") + " AS stop_ratio, " +
        sqlS6("CAST(COUNT(DISTINCT tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)") + " AS uniq_ratio " +
        "FROM t GROUP BY doc_id) " +
        "SELECT doc_id, n_tok, avg_len, stop_ratio, uniq_ratio, " +
        // thresholds live on the same 1e6-scaled grid as the columns
        "CASE WHEN n_tok >= 20 AND uniq_ratio >= 100000 AND stop_ratio <= 600000 THEN 1 ELSE 0 END AS keep " +
        "FROM m ORDER BY doc_id"),
      (s, d) =>
        tokens(s, d)
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_tok"),
            mean6(length(col("tok")).cast("double")).as("avg_len"),
            s6(sum(when(col("tok").isin(Stopwords: _*), 1).otherwise(0)).cast("double")
              / count(lit(1)).cast("double")).as("stop_ratio"),
            s6(countDistinct(col("tok")).cast("double") / count(lit(1)).cast("double"))
              .as("uniq_ratio"))
          .withColumn("keep",
            when(col("n_tok") >= 20 && col("uniq_ratio") >= 100000L && col("stop_ratio") <= 600000L, 1)
              .otherwise(0))
          .orderBy("doc_id")),

    // Preference-pair dataset prep (round 12) — the DPO/RLHF data shape
    // [Rafailov et al. 2023 DPO; Ouyang et al. 2022]: build
    // (chosen, rejected) document pairs with a quality GAP, per language
    // stratum. Quality = the exact distinct-token count (an integer, so
    // ranking is engine-exact); rank docs per lang by (q DESC, doc_id)
    // and pair rank i with rank n+1−i — widest-gap-first symmetric
    // pairing, i ≤ n/2, equal-quality pairs DROPPED (gap must be > 0, a
    // deterministic predicate both engines share; the odd middle doc
    // never pairs). One explode + one lang-keyed rank window + a
    // rank-arithmetic self-join — shuffles bounded by the lang key, the
    // same two-pass rank form win_ntile documents for unsortable shards.
    Q("llm_pref_pairs", Some(
      "WITH q AS (SELECT doc_id, lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS qd FROM " +
        "(SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents) " +
        "GROUP BY doc_id, lang), " +
        "r AS (SELECT doc_id, lang, qd, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY qd DESC, doc_id) AS BIGINT) AS rk, " +
        "CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n FROM q) " +
        "SELECT a.lang, a.rk AS pair_rank, a.doc_id AS chosen_id, b.doc_id AS rejected_id, " +
        "a.qd - b.qd AS gap " +
        "FROM r a JOIN r b ON b.lang = a.lang AND b.rk = a.n + 1 - a.rk " +
        "WHERE 2 * a.rk <= a.n AND a.qd > b.qd " +
        "ORDER BY a.lang, pair_rank"),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val q = T.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("tok"))
          .groupBy("doc_id", "lang")
          .agg(countDistinct(col("tok")).as("qd"))
        val r = q
          .withColumn("rk", row_number().over(
            Window.partitionBy("lang").orderBy(col("qd").desc, col("doc_id"))).cast("long"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
        val b = r.select(col("lang").as("blang"), col("rk").as("brk"),
          col("doc_id").as("rejected_id"), col("qd").as("bqd"))
        r.join(b, col("lang") === col("blang") && col("brk") === col("n") + 1 - col("rk"))
          .where(lit(2) * col("rk") <= col("n") && col("qd") > col("bqd"))
          .select(col("lang"), col("rk").as("pair_rank"), col("doc_id").as("chosen_id"),
            col("rejected_id"), (col("qd") - col("bqd")).as("gap"))
          .orderBy("lang", "pair_rank")
      }),

    // Token counting: whitespace tokens, a BPE-ish subword budget estimate
    // (ceil(chars/4) — the "~4 chars per token" rule), and a regex
    // word-piece count.
    Q("llm_tokcount", Some(
      "SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS ws_tokens, " +
        "CAST(LENGTH(text) AS BIGINT) AS n_chars, " +
        "CAST(CEIL(CAST(LENGTH(text) AS DOUBLE) / 4) AS BIGINT) AS bpe_est, " +
        "CAST(LENGTH(REGEXP_REPLACE(text, '[a-z]+', 'x', 'g')) AS BIGINT) AS n_pieces " +
        "FROM documents ORDER BY doc_id"),
      (s, d) =>
        T.documents(s, d)
          .select(
            col("doc_id"),
            size(split(col("text"), " ")).cast("bigint").as("ws_tokens"),
            length(col("text")).cast("bigint").as("n_chars"),
            ceil(length(col("text")).cast("double") / 4).as("bpe_est"),
            length(regexp_replace(col("text"), "[a-z]+", "x")).cast("bigint").as("n_pieces"))
          .orderBy("doc_id")),

    // PII-style redaction pass (the scrubbing step of a training-data
    // pipeline): mask digit runs and long tokens, count replacements.
    Q("llm_redact", Some(
      "SELECT doc_id, REGEXP_REPLACE(REGEXP_REPLACE(text, '[0-9]+', '<NUM>', 'g'), " +
        "'[a-z]{12,}', '<LONG>', 'g') AS redacted, " +
        "CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits " +
        "FROM documents ORDER BY doc_id"),
      (s, d) =>
        T.documents(s, d)
          .select(
            col("doc_id"),
            regexp_replace(regexp_replace(col("text"), "[0-9]+", "<NUM>"),
              "[a-z]{12,}", "<LONG>").as("redacted"),
            (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
              .cast("bigint").as("n_digits"))
          .orderBy("doc_id")),

    // Entity-typed PII scrub (round 15) — the REAL redaction pass of a
    // training-data pipeline (llm_redact above masks digit runs, but
    // this corpus is digit-free so its lanes are structurally quiet):
    // emails, phone numbers and IPv4 addresses are masked with TYPED
    // placeholders and counted per type. The corpus text carries no
    // PII by construction, so entities are INJECTED deterministically
    // in-plan (the llm_normalize lane discipline): lane 1 appends one
    // email (two when doc_id % 8 = 1 — multiplicity spread), lane 2 a
    // 555-prefix phone, lane 3 a dotted-quad IP, lane 0 stays clean.
    // Both engines build the identical decorated string, so the graded
    // value is the scrub law: pattern dialect agreement (the three
    // patterns use only the regex subset Java and RE2 share), 'g'
    // replacement, count-before-scrub. Map-only — fuses into the scan,
    // no shuffle at any scale.
    Q("llm_pii_scrub", Some {
      val em = "[a-z0-9]+@[a-z]+\\.[a-z]+"
      val ph = "555-[0-9]{4}"
      val ip = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
      "WITH dec AS (SELECT doc_id, doc_id % 4 AS lane, text || " +
        "CASE WHEN doc_id % 4 = 1 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com now' || " +
        "(CASE WHEN doc_id % 8 = 1 THEN ' or u' || CAST(doc_id AS VARCHAR) || '@example.net' ELSE '' END) " +
        "WHEN doc_id % 4 = 2 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' " +
        "WHEN doc_id % 4 = 3 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 node' " +
        "ELSE '' END AS t FROM documents) " +
        "SELECT doc_id, CAST(lane AS BIGINT) AS lane, " +
        s"CAST(LEN(regexp_extract_all(t, '$em')) AS BIGINT) AS n_email, " +
        s"CAST(LEN(regexp_extract_all(t, '$ph')) AS BIGINT) AS n_phone, " +
        s"CAST(LEN(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ip, " +
        "regexp_replace(regexp_replace(regexp_replace(t, " +
        s"'$em', '<EMAIL>', 'g'), '$ph', '<PHONE>', 'g'), '$ip', '<IP>', 'g') AS scrubbed " +
        "FROM dec ORDER BY doc_id"
    },
      (s, d) => {
        val em = "[a-z0-9]+@[a-z]+\\.[a-z]+"
        val ph = "555-[0-9]{4}"
        val ip = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
        val decorated = concat(col("text"),
          when(col("doc_id") % 4 === 1,
            concat(lit(" contact u"), col("doc_id").cast("string"), lit("@example.com now"),
              when(col("doc_id") % 8 === 1,
                concat(lit(" or u"), col("doc_id").cast("string"), lit("@example.net")))
                .otherwise("")))
            .when(col("doc_id") % 4 === 2,
              concat(lit(" call 555-"),
                lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" today")))
            .when(col("doc_id") % 4 === 3,
              concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7 node")))
            .otherwise(""))
        T.documents(s, d)
          .select(col("doc_id"), (col("doc_id") % 4).as("lane"), decorated.as("t"))
          .select(col("doc_id"), col("lane"),
            size(regexp_extract_all(col("t"), lit(em), lit(0))).cast("long").as("n_email"),
            size(regexp_extract_all(col("t"), lit(ph), lit(0))).cast("long").as("n_phone"),
            size(regexp_extract_all(col("t"), lit(ip), lit(0))).cast("long").as("n_ip"),
            regexp_replace(regexp_replace(regexp_replace(col("t"),
              em, "<EMAIL>"), ph, "<PHONE>"), ip, "<IP>").as("scrubbed"))
          .orderBy("doc_id")
      }),

    // URL extraction + host canonicalization (round 15) — the
    // provenance step of a web-corpus pipeline (URL → canonical host →
    // per-host accounting, the input to domain caps and robots/blocklist
    // joins). URLs are INJECTED deterministically (the llm_pii_scrub
    // lane discipline — the corpus text has no ':' or '/'): lane 1
    // carries an https URL with a www. prefix, a path and a query
    // (canonicalization must strip all three), lane 2 a bare-host http
    // asset URL, lane 0 none. Graded per canonical host: URL and doc
    // counts — extraction regex, group capture and the strip-www law
    // all shared verbatim across engines. One shuffle (the host agg);
    // extraction itself is map-only and fuses into the scan.
    Q("llm_url_extract", Some {
      val urlPat = "https?://[a-z0-9./?=]+"
      val hostPat = "^https?://(www\\.)?([a-z0-9.]+?)(/[a-z0-9./?=]*)?$"
      "WITH dec AS (SELECT doc_id, text || " +
        "CASE WHEN doc_id % 3 = 1 THEN ' see https://www.site' || CAST(doc_id % 7 AS VARCHAR) || " +
        "'.example.com/p/' || CAST(doc_id AS VARCHAR) || '?q=x ok' " +
        "WHEN doc_id % 3 = 2 THEN ' see http://cdn' || CAST(doc_id % 5 AS VARCHAR) || '.example.net/img.png ok' " +
        "ELSE '' END AS t FROM documents), " +
        s"u AS (SELECT doc_id, UNNEST(regexp_extract_all(t, '$urlPat')) AS url FROM dec), " +
        s"h AS (SELECT doc_id, regexp_extract(url, '$hostPat', 2) AS host FROM u) " +
        "SELECT host, CAST(COUNT(*) AS BIGINT) AS n_urls, " +
        "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs " +
        "FROM h GROUP BY host ORDER BY host"
    },
      (s, d) => {
        val urlPat = "https?://[a-z0-9./?=]+"
        val hostPat = "^https?://(www\\.)?([a-z0-9.]+?)(/[a-z0-9./?=]*)?$"
        val decorated = concat(col("text"),
          when(col("doc_id") % 3 === 1,
            concat(lit(" see https://www.site"), (col("doc_id") % 7).cast("string"),
              lit(".example.com/p/"), col("doc_id").cast("string"), lit("?q=x ok")))
            .when(col("doc_id") % 3 === 2,
              concat(lit(" see http://cdn"), (col("doc_id") % 5).cast("string"),
                lit(".example.net/img.png ok")))
            .otherwise(""))
        T.documents(s, d)
          .select(col("doc_id"), decorated.as("t"))
          .select(col("doc_id"),
            explode(regexp_extract_all(col("t"), lit(urlPat), lit(0))).as("url"))
          .select(col("doc_id"), regexp_extract(col("url"), hostPat, 2).as("host"))
          .groupBy("host")
          .agg(count(lit(1)).as("n_urls"), countDistinct(col("doc_id")).as("n_docs"))
          .orderBy("host")
      }),

    // Gopher-style repetition filter: share of the document taken by its
    // single most frequent bigram; high ratio = boilerplate/repetitive.
    Q("llm_repetition", Some(
      "WITH bg AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bigram " +
        "FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents) WHERE LEN(tk) >= 2), " +
        "cnt AS (SELECT doc_id, bigram, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY doc_id, bigram), " +
        "tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n, MAX(c) AS top FROM cnt " +
        "GROUP BY doc_id) " + // n = distinct bigrams; top = max count of one bigram
        "SELECT t.doc_id, t.top AS top_bigram_count, s.nb AS n_bigrams, " +
        sqlS6("CAST(t.top AS DOUBLE) / CAST(s.nb AS DOUBLE)") + " AS rep_ratio, " +
        "CASE WHEN CAST(t.top AS DOUBLE) / CAST(s.nb AS DOUBLE) > 0.2 THEN 1 ELSE 0 END AS flag_repetitive " +
        "FROM tot t JOIN (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nb FROM bg GROUP BY doc_id) s " +
        "ON t.doc_id = s.doc_id ORDER BY t.doc_id"),
      (s, d) => {
        val bg = TextOps.bigrams(T.documents(s, d), "doc_id")
        val cnt = bg.groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
        val tot = cnt.groupBy("doc_id").agg(max(col("c")).as("top"))
        val nb = bg.groupBy("doc_id").agg(count(lit(1)).as("nb"))
        val ratio = col("top").cast("double") / col("nb").cast("double")
        tot.join(nb, "doc_id")
          .select(
            col("doc_id"), col("top").as("top_bigram_count"), col("nb").as("n_bigrams"),
            s6(ratio).as("rep_ratio"),
            when(ratio > 0.2, 1).otherwise(0).as("flag_repetitive"))
          .orderBy("doc_id")
      }),

    // The composite keep/drop FUNNEL (round 9, second wave): the
    // length/stopword/uniqueness rules of llm_quality and the top-bigram
    // repetition rule of llm_repetition applied as ONE ordered rule
    // chain per document, emitting the first failing rule as the drop
    // reason — the C4-style filter a corpus actually ships through, with
    // per-reason attribution for funnel accounting. All rule inputs are
    // s6 integers BEFORE any comparison, so both engines branch on
    // identical values; docs too short for bigrams take rep6 = 0 via the
    // left join's coalesce. Two explode+agg passes (tokens, bigrams)
    // joined on doc_id — linear, same cost family as its two parents.
    Q("llm_quality_filter", Some(
      "WITH t AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents), " +
        "m AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok, " +
        sqlS6("CAST(SUM(CASE WHEN tok IN " + StopwordsSqlList + " THEN 1 ELSE 0 END) AS DOUBLE) " +
          "/ CAST(COUNT(*) AS DOUBLE)") + " AS stop6, " +
        sqlS6("CAST(COUNT(DISTINCT tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)") + " AS uniq6 " +
        "FROM t GROUP BY doc_id), " +
        "bg AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bigram " +
        "FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents) WHERE LEN(tk) >= 2), " +
        "cnt AS (SELECT doc_id, bigram, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY doc_id, bigram), " +
        "rep AS (SELECT t.doc_id, " + sqlS6("CAST(t.top AS DOUBLE) / CAST(s.nb AS DOUBLE)") + " AS rep6 " +
        "FROM (SELECT doc_id, MAX(c) AS top FROM cnt GROUP BY doc_id) t " +
        "JOIN (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nb FROM bg GROUP BY doc_id) s " +
        "ON t.doc_id = s.doc_id), " +
        "j AS (SELECT m.doc_id, m.n_tok, m.stop6, m.uniq6, COALESCE(rep.rep6, 0) AS rep6 " +
        "FROM m LEFT JOIN rep ON m.doc_id = rep.doc_id) " +
        "SELECT doc_id, n_tok, " +
        "CASE WHEN n_tok < 20 THEN 'too_short' WHEN stop6 > 600000 THEN 'high_stop' " +
        "WHEN uniq6 < 100000 THEN 'low_uniq' WHEN rep6 > 200000 THEN 'repetitive' " +
        "ELSE 'ok' END AS reason, " +
        "CASE WHEN n_tok >= 20 AND stop6 <= 600000 AND uniq6 >= 100000 AND rep6 <= 200000 " +
        "THEN 1 ELSE 0 END AS keep " +
        "FROM j ORDER BY doc_id"),
      // thin instantiation of the parameterized library op (round 10)
      (s, d) => graft.analytics.QualityFilters.c4Filter(
        T.documents(s, d), idCol = "doc_id", textCol = "text",
        stopwords = Stopwords, minTokens = 20L, maxStop6 = 600000L,
        minUniq6 = 100000L, maxRep6 = 200000L)
        .orderBy("doc_id")),

    // Pointwise-mutual-information collocations per language (round 9,
    // second wave) — the phrase-mining statistic (Church & Hanks 1990)
    // over exact per-lang unigram/bigram counts: PMI = ln((c₂/nb) /
    // ((ca/n)(cb/n))). The corpus vocabulary is CLOSED, so the unigram
    // dictionary and the qualifying-bigram output are bounded by
    // |vocab|·|langs| regardless of corpus size — c1/totals broadcast
    // to the bigram-count side and the whole key stays two explode+agg
    // passes plus broadcast joins at any SF. Counts are exact longs; the
    // PMI is six portable lnInt terms (round 10 — no libm call). The
    // c₂ ≥ 5 support floor is the published PMI practice (sparse-count
    // PMI explodes) and keeps the output support-stable.
    Q("llm_collocations", Some(
      "WITH t AS (SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents), " +
        "c1 AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY lang, tok), " +
        "n1 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY lang), " +
        "bg AS (SELECT lang, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bigram " +
        "FROM (SELECT lang, STRING_SPLIT(text, ' ') AS tk FROM documents) WHERE LEN(tk) >= 2), " +
        "cp AS (SELECT lang, bigram, CAST(COUNT(*) AS BIGINT) AS np FROM bg GROUP BY lang, bigram), " +
        "n2 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nb FROM bg GROUP BY lang) " +
        "SELECT cp.lang, cp.bigram, cp.np AS n_pair, " +
        sqlS6(s"(((((${sqlLnInt("cp.np")} + ${sqlLnInt("n1.n")}) + ${sqlLnInt("n1.n")}) - " +
          s"${sqlLnInt("n2.nb")}) - ${sqlLnInt("a.c")}) - ${sqlLnInt("b.c")})") +
        " AS pmi6 " +
        "FROM cp JOIN c1 a ON a.lang = cp.lang AND a.tok = STRING_SPLIT(cp.bigram, ' ')[1] " +
        "JOIN c1 b ON b.lang = cp.lang AND b.tok = STRING_SPLIT(cp.bigram, ' ')[2] " +
        "JOIN n1 ON n1.lang = cp.lang JOIN n2 ON n2.lang = cp.lang " +
        "WHERE cp.np >= 5 ORDER BY cp.lang, cp.bigram"),
      (s, d) => {
        val t = tokens(s, d)
        val c1 = t.groupBy("lang", "tok").agg(count(lit(1)).as("c"))
        val n1 = t.groupBy("lang").agg(count(lit(1)).as("n"))
        val bg = TextOps.bigrams(T.documents(s, d), "lang")
        val cp = bg.groupBy("lang", "bigram").agg(count(lit(1)).as("np"))
        val n2 = bg.groupBy("lang").agg(count(lit(1)).as("nb"))
        val w1 = split(col("bigram"), " ").getItem(0)
        val w2 = split(col("bigram"), " ").getItem(1)
        val ca = c1.select(col("lang").as("la"), col("tok").as("ta"), col("c").as("ca"))
        val cb = c1.select(col("lang").as("lb"), col("tok").as("tb"), col("c").as("cb"))
        // ln(np·n²/(nb·ca·cb)) as six portable lnInt terms (no product
        // that could overflow int64, no libm)
        val pmi = lnInt(col("np")) + lnInt(col("n")) + lnInt(col("n")) -
          lnInt(col("nb")) - lnInt(col("ca")) - lnInt(col("cb"))
        cp.where(col("np") >= 5)
          .join(broadcast(ca), col("la") === col("lang") && col("ta") === w1)
          .join(broadcast(cb), col("lb") === col("lang") && col("tb") === w2)
          .join(broadcast(n1), "lang")
          .join(broadcast(n2), "lang")
          .select(col("lang"), col("bigram"), col("np").as("n_pair"),
            s6(pmi).as("pmi6"))
          .orderBy("lang", "bigram")
      }),

    // Canonical-URL dedup (round 9, second wave) — the first dedup stage
    // of a crawl pipeline: strip the query/fragment (tracking params),
    // group on the canonical scheme://host/path, keep the smallest id as
    // representative. URLs are synthesized from events exactly as fn_url
    // does (the corpus carries no URL column); the canonicalization is
    // one regex capture, so the whole key is a map + ONE hash aggregate
    // on the canonical key — linear, the same cost class as
    // llm_dedup_exact's md5 group-by, and the crawl-scale shape (URL
    // space shards cleanly; hot hosts salt like any skewed group key).
    Q("llm_dedup_url", Some(
      "WITH u AS (SELECT event_id, 'https://' || event_type || '.example.com/u/' || " +
        "CAST(user_id AS VARCHAR) || '?v=' || CAST(event_id % 97 AS VARCHAR) || '&x=1' AS url FROM events) " +
        "SELECT REGEXP_EXTRACT(url, '^[a-z]+://([^?#]*)', 1) AS canon_url, " +
        "MIN(event_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_total " +
        "FROM u GROUP BY canon_url ORDER BY canon_url"),
      (s, d) =>
        T.events(s, d)
          .select(col("event_id"), concat(
            lit("https://"), col("event_type"), lit(".example.com/u/"),
            col("user_id").cast("string"), lit("?v="),
            (col("event_id") % 97).cast("string"), lit("&x=1")).as("url"))
          .groupBy(regexp_extract(col("url"), "^[a-z]+://([^?#]*)", 1).as("canon_url"))
          .agg(min(col("event_id")).as("keep_id"), count(lit(1)).as("n_total"))
          .orderBy("canon_url")),

    // Bigram-LM document scoring with add-one smoothing (round 9, second
    // wave) — the next rung past llm_unigram_logprob on the perplexity-
    // filter ladder (CCNet-style quality scoring with one token of
    // context): per occurrence, ln((c(w₁w₂)+1)/(c(w₁)+V)) under the
    // per-language corpus counts, s6-floored per term so the per-doc
    // sum is an order-free long (the unigram key's discipline). The
    // count dictionaries and vocabulary sizes are CLOSED-vocabulary
    // bounded and broadcast; the doc side stays one explode + two
    // map-side joins + one aggregate — linear at any SF.
    Q("llm_bigram_logprob", Some(
      "WITH bg AS (SELECT doc_id, lang, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bigram " +
        "FROM (SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS tk FROM documents) WHERE LEN(tk) >= 2), " +
        "t AS (SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents), " +
        "c1 AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY lang, tok), " +
        "vv AS (SELECT lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM t GROUP BY lang), " +
        "c2 AS (SELECT lang, bigram, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY lang, bigram) " +
        "SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, " +
        "CAST(SUM(" +
        sqlS6(sqlLnRatio("(c2.c + 1)", "(c1.c + vv.v)")) +
        ") AS BIGINT) AS lp6 " +
        "FROM bg JOIN c2 ON c2.lang = bg.lang AND c2.bigram = bg.bigram " +
        "JOIN c1 ON c1.lang = bg.lang AND c1.tok = STRING_SPLIT(bg.bigram, ' ')[1] " +
        "JOIN vv ON vv.lang = bg.lang " +
        "GROUP BY bg.doc_id ORDER BY bg.doc_id"),
      (s, d) => {
        val t = tokens(s, d)
        val c1 = t.groupBy("lang", "tok").agg(count(lit(1)).as("c1"))
          .select(col("lang").as("l1"), col("tok").as("t1"), col("c1"))
        val vv = t.groupBy("lang").agg(countDistinct(col("tok")).as("v"))
          .select(col("lang").as("lv"), col("v"))
        val bg = TextOps.bigrams(T.documents(s, d), "doc_id", "lang")
        val c2 = bg.groupBy("lang", "bigram").agg(count(lit(1)).as("c2"))
          .select(col("lang").as("l2"), col("bigram").as("b2"), col("c2"))
        val term = s6(lnRatio(col("c2") + 1, col("c1") + col("v")))
        bg.join(broadcast(c2), col("l2") === col("lang") && col("b2") === col("bigram"))
          .join(broadcast(c1), col("l1") === col("lang") &&
            col("t1") === split(col("bigram"), " ").getItem(0))
          .join(broadcast(vv), col("lv") === col("lang"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum(term).as("lp6"))
          .orderBy("doc_id")
      }),

    // Cross-document chunk dedup: 10-token chunks (udtf_sentences shape)
    // repeated across documents, with the canonical (smallest) location —
    // paragraph-level dedup of the training-data funnel.
    Q("llm_chunk_dedup", Some(
      "WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents), " +
        "chunks AS (SELECT doc_id, ARRAY_TO_STRING(LIST_SLICE(toks, i * 10 + 1, i * 10 + 10), ' ') AS chunk " +
        "FROM t, (SELECT UNNEST(RANGE(0, 1000)) AS i) idx WHERE i * 10 < LEN(toks)) " +
        "SELECT MD5(chunk) AS chunk_hash, CAST(COUNT(*) AS BIGINT) AS occurrences, " +
        "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, MIN(doc_id) AS canonical_doc " +
        "FROM chunks GROUP BY chunk_hash HAVING COUNT(*) > 1 " +
        "ORDER BY chunk_hash"),
      (s, d) => {
        // chunking stays inside WholeStageCodegen: sequence + transform +
        // explode over array slices (the typed flatMap alternative
        // deserializes every row — VERDICT r01 minor #4); shared with
        // llm_decontaminate via TextOps.chunks10 (incl. the oracle's
        // 1000-chunk cap)
        TextOps.chunks10(T.documents(s, d))
          .groupBy(md5(col("chunk")).as("chunk_hash"))
          .agg(
            count(lit(1)).as("occurrences"),
            countDistinct(col("doc_id")).as("n_docs"),
            min(col("doc_id")).as("canonical_doc"))
          .where(col("occurrences") > 1)
          .orderBy("chunk_hash")
      }),

    // Decontamination (round 7): find training documents that share a
    // 10-token chunk with any EVAL-set document — the train/test overlap
    // scrub every training pipeline runs before the corpus ships (chunk
    // n-gram overlap, the published Brown et al. 2020 appendix-C shape).
    // The eval set here is the deterministic doc_id % 10 == 0 slice (a
    // real deployment supplies benchmark docs); eval chunk hashes form a
    // benchmark-sized dictionary that BROADCASTS — the training side
    // stays a linear scan + map-side join at any corpus scale, followed
    // by one per-doc aggregation. Same chunking arithmetic as
    // llm_chunk_dedup on both engines.
    Q("llm_decontaminate", Some(
      "WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents), " +
        "chunks AS (SELECT doc_id, MD5(ARRAY_TO_STRING(LIST_SLICE(toks, i * 10 + 1, i * 10 + 10), ' ')) AS h " +
        "FROM t, (SELECT UNNEST(RANGE(0, 1000)) AS i) idx WHERE i * 10 < LEN(toks)), " +
        "ev AS (SELECT h, MIN(doc_id) AS ed FROM chunks WHERE doc_id % 10 = 0 GROUP BY h), " +
        "tr AS (SELECT DISTINCT doc_id, h FROM chunks WHERE doc_id % 10 <> 0) " +
        "SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared, MIN(ev.ed) AS first_eval_doc " +
        "FROM tr JOIN ev USING (h) GROUP BY tr.doc_id ORDER BY tr.doc_id"),
      (s, d) => {
        val chunks = TextOps.chunks10(T.documents(s, d))
          .select(col("doc_id"), md5(col("chunk")).as("h"))
        val ev = chunks.where(col("doc_id") % 10 === 0)
          .groupBy("h").agg(min(col("doc_id")).as("ed"))
        val tr = chunks.where(col("doc_id") % 10 =!= 0)
          .select("doc_id", "h").distinct()
        tr.join(broadcast(ev), "h")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shared"), min(col("ed")).as("first_eval_doc"))
          .orderBy("doc_id")
      }),

    // Sliding-window decontamination (VERDICT r7 #7): the published
    // recipe scrubs on SLIDING 13-grams (Brown et al. 2020 appendix C),
    // not disjoint chunks — a train/eval overlap at any alignment is
    // caught, where the disjoint key above only catches stride-aligned
    // overlap. Same broadcast-dictionary funnel: eval 13-gram hashes are
    // benchmark-sized and BROADCAST; the training side stays one linear
    // scan emitting ~n_tokens rows per doc (cost ~13× the disjoint key,
    // bounded per-doc by TextOps.SlideCap on both engines). The disjoint
    // key stays graded — it is the cheap first-pass filter of the same
    // pipeline.
    Q("llm_decontaminate_sliding", Some(
      "WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents), " +
        "grams AS (SELECT doc_id, MD5(ARRAY_TO_STRING(LIST_SLICE(toks, i, i + 12), ' ')) AS h " +
        "FROM t, (SELECT UNNEST(RANGE(1, 10001)) AS i) idx WHERE i + 12 <= LEN(toks)), " +
        "ev AS (SELECT h, MIN(doc_id) AS ed FROM grams WHERE doc_id % 10 = 0 GROUP BY h), " +
        "tr AS (SELECT DISTINCT doc_id, h FROM grams WHERE doc_id % 10 <> 0) " +
        "SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared, MIN(ev.ed) AS first_eval_doc " +
        "FROM tr JOIN ev USING (h) GROUP BY tr.doc_id ORDER BY tr.doc_id"),
      (s, d) => {
        val grams = TextOps.sliding13(T.documents(s, d))
          .select(col("doc_id"), md5(col("chunk")).as("h"))
        val ev = grams.where(col("doc_id") % 10 === 0)
          .groupBy("h").agg(min(col("doc_id")).as("ed"))
        val tr = grams.where(col("doc_id") % 10 =!= 0)
          .select("doc_id", "h").distinct()
        tr.join(broadcast(ev), "h")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shared"), min(col("ed")).as("first_eval_doc"))
          .orderBy("doc_id")
      }),

    // The full training-data dedup funnel as ONE plan (the llm-side
    // flagship, mirroring eo_product_pipeline): quality gate -> exact-dup
    // canonicalization -> near-dup canonicalization (keep smallest doc_id
    // of each Jaccard>=0.5 pair) -> survivor stats per lang. Each canon
    // doc carries its distinct-token set as ONE sorted packed array —
    // sizes, prefixes, and pair intersections all derive from that column,
    // replacing the r5 dictionary + multiword-bitmask machinery (a
    // zipWithIndex job + two mask aggs that were 5.3 s of the 6.5 s
    // single-run constant, SURVEY §8.4) with codegen'd array math.
    //
    // A doc only needs ONE witness (any smaller same-lang doc with
    // Jaccard>=0.5) to lose, so the witness search is tiered instead of
    // all-pairs (which this replaced: quadratic in docs-per-lang, the
    // slowest BENCH_r03 key):
    //   A. pivot pass — the lang's smallest doc_id is checked against every
    //      doc in the lang via ONE broadcast join: O(n) pairs, and on
    //      dedup-heavy corpora it witnesses almost every loser (measured
    //      here: 92%+).
    //   B. residue pass — ONLY the unresolved docs, with PREFIX-FILTERED
    //      candidates (SSJoin/PPJoin): a residue doc joins smaller docs on
    //      shared elements of their first-floor(n/2)+1 sorted-token
    //      prefixes, complete for j >= 0.5 by the prefix lemma, then an
    //      exact array_intersect verifies candidates only. Phases A+B
    //      therefore find exactly the all-pairs loser set on ANY corpus
    //      (LlmPipelineSpec asserts equality generatively against an
    //      independent brute force), with no banding-recall gamble — and
    //      the full masks-x-residue (lang, word) join of r5 is gone.
    // At 100 TB: phase A is linear; phase B's candidate count is bounded
    // by prefix co-occurrence — under a frequency-ascending prefix order
    // the joined tokens are each doc's rarest, so blocks stay small and
    // skew-free on a Zipfian open vocabulary (lexicographic here: this
    // corpus's flat 31-token frequencies make df-ordering pure overhead).
    // The approximate open-world path stays llm_minhash (banding
    // candidates, published probabilistic recall).
    Q("llm_dedup_pipeline", Some(
      "WITH toks AS (SELECT doc_id, lang, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS tok FROM documents), " +
        "alltoks AS (SELECT doc_id, COUNT(*) AS n_tok FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents) GROUP BY doc_id), " +
        "quality AS (SELECT doc_id FROM alltoks WHERE n_tok >= 20), " +
        "exact_canon AS (SELECT MIN(doc_id) AS doc_id FROM documents JOIN quality USING (doc_id) GROUP BY MD5(text)), " +
        "dict AS (SELECT tok, CAST(DENSE_RANK() OVER (ORDER BY tok) - 1 AS INT) AS tok_id FROM (SELECT DISTINCT tok FROM toks)), " +
        "masks AS (SELECT t.doc_id, lang, tok_id // 63 AS w, SUM(CAST(1 AS BIGINT) << (tok_id % 63)) AS m FROM toks t " +
        "JOIN exact_canon e ON t.doc_id = e.doc_id JOIN dict USING (tok) GROUP BY t.doc_id, lang, w), " +
        "sizes AS (SELECT doc_id, CAST(SUM(BIT_COUNT(m)) AS BIGINT) AS n FROM masks GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, SUM(BIT_COUNT(a.m & b.m)) AS i " +
        "FROM masks a JOIN masks b ON a.lang = b.lang AND a.w = b.w AND a.doc_id < b.doc_id GROUP BY d1, d2), " +
        "losers AS (SELECT DISTINCT i.d2 AS doc_id FROM inter i " +
        "JOIN sizes s1 ON i.d1 = s1.doc_id JOIN sizes s2 ON i.d2 = s2.doc_id " +
        "WHERE CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE) >= 0.5), " +
        "survivors AS (SELECT DISTINCT doc_id, lang FROM masks WHERE doc_id NOT IN (SELECT doc_id FROM losers)) " +
        "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_survivors, MIN(doc_id) AS first_doc " +
        "FROM survivors GROUP BY lang ORDER BY lang"),
      (s, d) => {
        val docs = T.documents(s, d)
        // the quality gate is a predicate on the doc itself — a filter
        // fused into the scan, not the oracle's spelled-out self-join
        val exactCanon = docs.where(size(split(col("text"), " ")) >= 20)
          .groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id")
        // canon docs with their sorted distinct-token array: persisted —
        // consumed by phase A, the prefix index, both verify joins, and
        // the survivor rollup (un-persisted, the scan + canon join
        // re-executes per consumer — perf fact #1 of the round-3 audit)
        val cdocs = docs.join(exactCanon, "doc_id")
          .select(col("doc_id"), col("lang"),
            array_sort(array_distinct(split(col("text"), " "))).as("toks"))
          .withColumn("n", size(col("toks")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val jac = col("i").cast("double") / (col("n1") + col("n2") - col("i")).cast("double")
        // ---- phase A: lang-pivot witness pass, one broadcast join ----
        val pivots = cdocs.groupBy("lang").agg(
          min(col("doc_id")).as("pdoc"),
          min_by(col("toks"), col("doc_id")).as("ptoks"),
          min_by(col("n"), col("doc_id")).as("n1"))
        // persisted: consumed by the residue anti-join AND the survivor
        // anti-join
        val losersA = cdocs.join(broadcast(pivots), Seq("lang"))
          .where(col("doc_id") =!= col("pdoc"))
          .withColumn("i", size(array_intersect(col("toks"), col("ptoks"))))
          .withColumnRenamed("n", "n2")
          .where(jac >= 0.5)
          .select("doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // ---- phase B: prefix-filtered candidates + exact verify ----
        // residue docs (non-pivot, no phase-A witness) join every smaller
        // canon doc on shared PREFIX tokens (first floor(n/2)+1 of each
        // sorted set — complete for j >= 0.5 by the prefix lemma), then
        // the candidate pairs alone are verified exactly.
        val prefixed = (df: DataFrame, idAs: String) => df.select(
          col("doc_id").as(idAs), col("lang"),
          explode(slice(col("toks"), lit(1),
            (floor(col("n") / 2) + 1).cast("int"))).as("tok"))
        // same broadcast(pivots) subtree as losersA — identical exchange,
        // so the physical plan reuses one broadcast materialization
        // instead of building a second (pivots.select(...) would not)
        val rdocs = cdocs.join(broadcast(pivots), Seq("lang"))
          .where(col("doc_id") =!= col("pdoc"))
          .join(losersA, Seq("doc_id"), "left_anti")
          .select("doc_id", "lang", "toks", "n")
        val cand = prefixed(cdocs, "d1")
          .join(prefixed(rdocs, "d2"), Seq("lang", "tok"))
          .where(col("d1") < col("d2"))
          .select("d1", "d2").distinct()
        val byId = cdocs.select(col("doc_id"), col("toks"), col("n"))
        val losersB = cand
          .join(byId.select(col("doc_id").as("d1"), col("toks").as("ta"), col("n").as("n1")), "d1")
          .join(byId.select(col("doc_id").as("d2"), col("toks").as("tb"), col("n").as("n2")), "d2")
          .withColumn("i", size(array_intersect(col("ta"), col("tb"))))
          .where(jac >= 0.5)
          .select(col("d2").as("doc_id")).distinct()
        cdocs.select("doc_id", "lang")
          .join(losersA.union(losersB), Seq("doc_id"), "left_anti")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_survivors"), min(col("doc_id")).as("first_doc"))
          .orderBy("lang")
      }),

    // Unigram LM scoring (the CCNet-style language-model quality proxy):
    // each token's corpus log-probability ln(cf/N), scaled to the exact
    // s6 grid PER TOKEN so the per-doc sum is an order-free integer (a
    // raw double SUM(ln) would be merge-order-dependent; the per-token
    // FLOOR boundary carries the same generic-input ulp risk the trig
    // keys document). cf rides a broadcast (vocabulary-sized); N is a
    // broadcast scalar.
    Q("llm_unigram_logprob", Some(
      "WITH t AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents), " +
        "cf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY tok), " +
        "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM t) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok, " +
        "CAST(SUM(" + sqlS6(sqlLnRatio("c", "total")) + ") AS BIGINT) AS sum_lp6 " +
        "FROM t JOIN cf USING (tok) CROSS JOIN n " +
        "GROUP BY doc_id ORDER BY doc_id"),
      (s, d) => {
        val t = T.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val cf = t.groupBy("tok").agg(count(lit(1)).as("c"))
        val n = t.agg(count(lit(1)).as("total"))
        t.join(broadcast(cf), "tok")
          .crossJoin(broadcast(n))
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_tok"),
            sum(s6(lnRatio(col("c"), col("total")))).as("sum_lp6"))
          .orderBy("doc_id")
      }),

    // Content-defined fingerprint: md5 over the sorted distinct token set —
    // order-insensitive (catches shuffled near-dups that exact dedup misses).
    Q("llm_fingerprint", Some(
      "SELECT doc_id, MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' '))), ' ')) AS fp " +
        "FROM documents ORDER BY doc_id"),
      (s, d) =>
        T.documents(s, d)
          .select(col("doc_id"),
            md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " ")).as("fp"))
          .orderBy("doc_id")),

    // Okapi BM25 relevance scoring (round 8) [PK Robertson & Zaragoza
    // 2009]: top-10 docs for a fixed 3-term query, k1=1.2 b=0.75. The
    // corpus stats (N, Σdl → avgdl; df per query term) are tiny and
    // broadcast; tf is computed ONLY for the query terms (the isin filter
    // prunes the exploded stream before its one partial-agg shuffle), so
    // cost is ~linear in corpus tokens with no wide shuffle — the shape
    // that serves interactive retrieval over a 100-TB corpus. Per-term
    // scores canonicalize to the 6-dp grid BEFORE the per-doc sum (Det
    // rule 3: the sum of ≤3 longs is order-free); the idf runs through
    // the round-10 portable lnRatio - no libm anywhere. Top-10 is
    // TakeOrderedAndProject (per-partition heaps), never a global sort.
    Q("llm_bm25", Some(
      "WITH dls AS (SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS dl FROM documents), " +
        "corp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl FROM dls), " +
        "tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM " +
        "(SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents) " +
        "WHERE tok IN ('spark', 'merge', 'window') GROUP BY doc_id, tok), " +
        "df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok), " +
        "term AS (SELECT t.doc_id, " +
        "CAST(FLOOR(" + sqlLnRatio("(2*c.n + 2)", "(2*f.df + 1)") + " * " +
        "(CAST(t.tf AS DOUBLE) * 2.2) / (CAST(t.tf AS DOUBLE) + 1.2 * " +
        "(1 - 0.75 + 0.75 * CAST(l.dl AS DOUBLE) / (CAST(c.sumdl AS DOUBLE) / CAST(c.n AS DOUBLE)))) " +
        "* 1e6 + 0.5) AS BIGINT) AS ts6 " +
        "FROM tf t JOIN df f USING (tok) JOIN dls l ON t.doc_id = l.doc_id CROSS JOIN corp c) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms, " +
        "CAST(SUM(ts6) AS BIGINT) AS bm25_6 " +
        "FROM term GROUP BY doc_id ORDER BY bm25_6 DESC, doc_id LIMIT 10"),
      (s, d) => {
        val queryTerms = Seq("spark", "merge", "window")
        val dls = T.documents(s, d)
          .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
        val corp = dls.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
        val tf = T.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .where(col("tok").isin(queryTerms: _*))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val nD = col("n").cast("double"); val dfD = col("df").cast("double")
        val tfD = col("tf").cast("double"); val dlD = col("dl").cast("double")
        val avgdl = col("sumdl").cast("double") / nD
        // idf: (n-df+0.5)/(df+0.5)+1 = (2n+2)/(2df+1) exactly - an
        // integer ratio, so the portable lnRatio applies (round 10)
        val ts6 = floor(lnRatio(lit(2) * col("n") + 2, lit(2) * col("df") + 1) *
          (tfD * lit(2.2)) / (tfD + lit(1.2) *
            (lit(1) - lit(0.75) + lit(0.75) * dlD / avgdl)) *
          lit(1e6) + lit(0.5)).cast("long")
        tf.join(broadcast(df), "tok")
          .join(dls, "doc_id")
          .crossJoin(broadcast(corp))
          .select(col("doc_id"), ts6.as("ts6"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_terms"), sum(col("ts6")).as("bm25_6"))
          .orderBy(col("bm25_6").desc, col("doc_id"))
          .limit(10)
      }),

    // Hybrid retrieval fusion (round 16, VERDICT r15 missing #3) —
    // reciprocal-rank fusion of the lexical and vector shortlists
    // [Cormack, Clarke & Büttcher 2009, RRF; the default hybrid shape of
    // production RAG retrieval, PK OpenSearch/Vespa]: llm_bm25's scoring
    // chain (same 3-term query, same k1/b, same portable-lnRatio idf)
    // produces the lexical top-50, llm_cosine_topk's exact scaled-long
    // cosine law produces the vector top-50 for query vec 0 (documents
    // and embeddings share the 0..N id space — doc d's embedding is
    // vec_id d), and ONE full-outer equi-join on doc_id fuses them with
    // rrf6(r) = floor(1e6/(60+r) + 0.5), absent arm = 0 — integer-exact
    // on both engines. Graded: the fused top-10 with both per-arm ranks
    // exposed (0 = absent), so a drift in either shortlist, the join, or
    // the fusion arithmetic breaks the hash. MEASURED overlap lane: 3-4
    // docs sit in both top-50s at the graded SFs and dominate the fused
    // head (two reciprocal contributions beat any single rank-1). Scale
    // shape: each arm is corpus-linear with a TakeOrderedAndProject
    // per-partition heap (a single-query top-k — heaps beat a
    // one-partition rank window, the llm_bm25 precedent), the fusion
    // join is 50×50-row bounded.
    Q("llm_hybrid_rrf", Some(
      "WITH dls AS (SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS dl FROM documents), " +
        "corp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl FROM dls), " +
        "tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM " +
        "(SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents) " +
        "WHERE tok IN ('spark', 'merge', 'window') GROUP BY doc_id, tok), " +
        "df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok), " +
        "term AS (SELECT t.doc_id, " +
        "CAST(FLOOR(" + sqlLnRatio("(2*c.n + 2)", "(2*f.df + 1)") + " * " +
        "(CAST(t.tf AS DOUBLE) * 2.2) / (CAST(t.tf AS DOUBLE) + 1.2 * " +
        "(1 - 0.75 + 0.75 * CAST(l.dl AS DOUBLE) / (CAST(c.sumdl AS DOUBLE) / CAST(c.n AS DOUBLE)))) " +
        "* 1e6 + 0.5) AS BIGINT) AS ts6 " +
        "FROM tf t JOIN df f USING (tok) JOIN dls l ON t.doc_id = l.doc_id CROSS JOIN corp c), " +
        "lexs AS (SELECT doc_id, CAST(SUM(ts6) AS BIGINT) AS bm25_6 " +
        "FROM term GROUP BY doc_id ORDER BY bm25_6 DESC, doc_id LIMIT 50), " +
        "lex AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY bm25_6 DESC, doc_id) AS BIGINT) AS rl FROM lexs), " +
        "ux AS (SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x, " +
        "UNNEST(RANGE(1, LEN(embedding) + 1)) AS i FROM embeddings), " +
        "qv AS (SELECT i, x AS qx FROM ux WHERE vec_id = 0), " +
        "nq AS (SELECT SUM(CAST(FLOOR(qx * qx * 1e14 + 0.5) AS BIGINT)) AS nl FROM qv), " +
        "alld AS (SELECT u.vec_id, " +
        "SUM(CAST(FLOOR(u.x * q.qx * 1e14 + 0.5) AS BIGINT)) AS dotl, " +
        "SUM(CAST(FLOOR(u.x * u.x * 1e14 + 0.5) AS BIGINT)) AS nl " +
        "FROM ux u JOIN qv q ON u.i = q.i WHERE u.vec_id <> 0 GROUP BY u.vec_id), " +
        "vecs AS (SELECT vec_id AS doc_id, (CAST(dotl AS DOUBLE) / 1e14) / " +
        "(SQRT(CAST(nl AS DOUBLE) / 1e14) * SQRT((SELECT CAST(nl AS DOUBLE) FROM nq) / 1e14)) AS c " +
        "FROM alld ORDER BY c DESC, doc_id LIMIT 50), " +
        "vec AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, doc_id) AS BIGINT) AS rv FROM vecs), " +
        "fused AS (SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id, " +
        "COALESCE(l.rl, 0) AS lex_rank, COALESCE(v.rv, 0) AS vec_rank, " +
        "COALESCE(CAST(FLOOR(1e6 / (60 + l.rl) + 0.5) AS BIGINT), 0) + " +
        "COALESCE(CAST(FLOOR(1e6 / (60 + v.rv) + 0.5) AS BIGINT), 0) AS rrf6 " +
        "FROM lex l FULL OUTER JOIN vec v ON v.doc_id = l.doc_id) " +
        "SELECT doc_id, lex_rank, vec_rank, rrf6 FROM fused " +
        "ORDER BY rrf6 DESC, doc_id LIMIT 10"),
      (s, d) => {
        val queryTerms = Seq("spark", "merge", "window")
        val dls = T.documents(s, d)
          .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
        val corp = dls.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
        val tf = T.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .where(col("tok").isin(queryTerms: _*))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val tfD = col("tf").cast("double"); val dlD = col("dl").cast("double")
        val avgdl = col("sumdl").cast("double") / col("n").cast("double")
        val ts6 = floor(lnRatio(lit(2) * col("n") + 2, lit(2) * col("df") + 1) *
          (tfD * lit(2.2)) / (tfD + lit(1.2) *
            (lit(1) - lit(0.75) + lit(0.75) * dlD / avgdl)) *
          lit(1e6) + lit(0.5)).cast("long")
        val lexs = tf.join(broadcast(df), "tok")
          .join(dls, "doc_id")
          .crossJoin(broadcast(corp))
          .select(col("doc_id"), ts6.as("ts6"))
          .groupBy("doc_id")
          .agg(sum(col("ts6")).as("bm25_6"))
          .orderBy(col("bm25_6").desc, col("doc_id"))
          .limit(50) // global top-k FIRST; the rank window then spans 50 rows
        val lex = lexs.withColumn("rl", row_number().over(
            Window.orderBy(col("bm25_6").desc, col("doc_id"))).cast("long"))
          .select("doc_id", "rl")
        val qe = T.embeddings(s, d).where(col("vec_id") === 0)
          .select(col("embedding").as("qe"))
        val cos = scaledCos("embedding", "qe")
        val vecs = T.embeddings(s, d).where(col("vec_id") =!= 0)
          .crossJoin(broadcast(qe))
          .withColumn("c", cos)
          .orderBy(col("c").desc, col("vec_id"))
          .limit(50)
        val vec = vecs.withColumn("rv", row_number().over(
            Window.orderBy(col("c").desc, col("vec_id"))).cast("long"))
          .select(col("vec_id").as("doc_id"), col("rv"))
        def rrf(r: Column): Column =
          floor(lit(1e6) / (lit(60) + r) + lit(0.5)).cast("long")
        lex.join(vec, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            coalesce(col("rl"), lit(0L)).as("lex_rank"),
            coalesce(col("rv"), lit(0L)).as("vec_rank"),
            (coalesce(rrf(col("rl")), lit(0L)) +
              coalesce(rrf(col("rv")), lit(0L))).as("rrf6"))
          .orderBy(col("rrf6").desc, col("doc_id"))
          .limit(10)
      }),

    // Hard-negative mining (round 16) — the contrastive-training data op
    // every production retriever pipeline runs [PK Karpukhin et al.
    // 2020, DPR §3.2; sentence-transformers mining]: for each training
    // query, retrieve the nearest corpus items and keep the top ones
    // whose LABEL differs from the query's (the "looks relevant, is
    // not" negatives that make contrastive training work). Batched over
    // every odd vec_id against the even-id index (the llm_ann_batch
    // train/query split): exact scaled-long cosine, per-query top-5
    // among different-label candidates, plus the n_pos20 census — how
    // many SAME-label items sit in the query's unfiltered top-20 (the
    // positives-surfaced lane; on this corpus labels are not geometric
    // clusters, FIXTURES.md, so the census hovers near the 10% label
    // prior — the honest measurement, and exactly why mining needs the
    // label filter). Both picks are per-query WindowGroupLimit heaps;
    // at 100× the exact scan swaps for an ANN shortlist (the batch
    // rungs) with this key as the semantics anchor — the
    // llm_cosine_topk precedent.
    Q("llm_hard_negatives", Some(
      "WITH ux AS (SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x, " +
        "UNNEST(RANGE(1, LEN(embedding) + 1)) AS i FROM embeddings), " +
        "lbl AS (SELECT vec_id, label FROM embeddings), " +
        "nrm AS (SELECT vec_id, SUM(CAST(FLOOR(x * x * 1e14 + 0.5) AS BIGINT)) AS nl " +
        "FROM ux GROUP BY vec_id), " +
        "dq AS (SELECT q.vec_id AS qid, u.vec_id AS v, " +
        "SUM(CAST(FLOOR(u.x * q.x * 1e14 + 0.5) AS BIGINT)) AS dotl " +
        "FROM ux u JOIN ux q ON q.i = u.i AND u.vec_id % 2 = 0 AND q.vec_id % 2 = 1 " +
        "GROUP BY qid, v), " +
        "cosd AS (SELECT dq.qid, dq.v, (CAST(dq.dotl AS DOUBLE) / 1e14) / " +
        "(SQRT(CAST(ni.nl AS DOUBLE) / 1e14) * SQRT(CAST(nq.nl AS DOUBLE) / 1e14)) AS cc " +
        "FROM dq JOIN nrm ni ON ni.vec_id = dq.v JOIN nrm nq ON nq.vec_id = dq.qid), " +
        "r20 AS (SELECT qid, v, cc, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cc DESC, v) AS rk " +
        "FROM cosd), " +
        "np AS (SELECT r.qid, CAST(SUM(CASE WHEN lq.label = lv.label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos20 " +
        "FROM r20 r JOIN lbl lq ON lq.vec_id = r.qid JOIN lbl lv ON lv.vec_id = r.v " +
        "WHERE r.rk <= 20 GROUP BY r.qid), " +
        "negs AS (SELECT c.qid, c.v, c.cc, " +
        "ROW_NUMBER() OVER (PARTITION BY c.qid ORDER BY c.cc DESC, c.v) AS rk " +
        "FROM cosd c JOIN lbl lq ON lq.vec_id = c.qid JOIN lbl lv ON lv.vec_id = c.v " +
        "WHERE lq.label <> lv.label) " +
        "SELECT n.qid AS query_id, CAST(n.rk AS BIGINT) AS rk, n.v AS vec_id, " +
        sqlS6("n.cc") + " AS cos_sim, np.n_pos20 " +
        "FROM negs n JOIN np ON np.qid = n.qid WHERE n.rk <= 5 " +
        "ORDER BY query_id, rk"),
      (s, d) => {
        val emb = T.embeddings(s, d)
          .select(col("vec_id"), col("label"), col("embedding"))
        val idx = emb.where(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("v"), col("label").as("lv"),
            col("embedding").as("ev"))
        val qs = emb.where(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("qid"), col("label").as("lq"),
            col("embedding").as("eq"))
        val cos = scaledCos("ev", "eq")
        // one batched scan: every (query, index) cosine, labels attached
        // map-side; the gated broadcast keeps the pair stream shuffle-free
        // at the graded SFs (over the gate AQE shards by qid)
        val scored = idx.crossJoin(embBcast(d)(qs))
          .withColumn("cc", cos)
          .select(col("qid"), col("lq"), col("v"), col("lv"), col("cc"))
          .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        val np = scored.withColumn("rk", row_number().over(
            Window.partitionBy("qid").orderBy(col("cc").desc, col("v"))))
          .where(col("rk") <= 20)
          .groupBy("qid")
          .agg(sum(when(col("lq") === col("lv"), 1L).otherwise(0L)).as("n_pos20"))
        scored.where(col("lq") =!= col("lv"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("qid").orderBy(col("cc").desc, col("v"))).cast("long"))
          .where(col("rk") <= 5)
          .join(embBcast(d)(np), "qid")
          .select(col("qid").as("query_id"), col("rk"), col("v").as("vec_id"),
            s6(col("cc")).as("cos_sim"), col("n_pos20"))
          .orderBy("query_id", "rk")
      }),

    // Winnowing document fingerprints (round 8) [PK Schleimer, Wilkerson
    // & Aiken 2003, SIGMOD]: token-trigram hashes (portable Det.hash32),
    // guarantee window w=4, fingerprint set = the distinct window minima
    // per doc — the local-algorithm property (any shared substring ≥
    // k+w-1 tokens shares a fingerprint) without shipping every k-gram.
    // Full windows only (pos ≥ 3): the boundary rule is spelled
    // identically on both engines; docs shorter than k+w-1 = 7 tokens
    // have no full window and drop out by construction. Per doc the
    // window pass is an entity-bounded (doc_id, pos) window — bounded
    // partitions, linear at any corpus scale; ~1/w of k-gram hashes
    // survive as fingerprints (the winnowing density bound), which is
    // the 100-TB win over llm_chunk_dedup-style exhaustive k-gram sets.
    Q("llm_winnow", Some(
      "WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents), " +
        "k AS (SELECT doc_id, i - 1 AS pos, " +
        "CAST(md5_number_upper(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) & 4294967295 AS BIGINT) AS kh " +
        "FROM t, UNNEST(RANGE(1, LEN(t) - 1)) AS g(i) WHERE LEN(t) >= 3), " +
        "w AS (SELECT doc_id, pos, MIN(kh) OVER (PARTITION BY doc_id ORDER BY pos " +
        "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel FROM k), " +
        "f AS (SELECT DISTINCT doc_id, sel FROM w WHERE pos >= 3) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp, " +
        "CAST(MIN(sel) AS BIGINT) AS min_fp, CAST(SUM(sel) AS BIGINT) AS sum_fp " +
        "FROM f GROUP BY doc_id ORDER BY doc_id"),
      (s, d) => {
        val kgrams = T.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .where(size(col("t")) >= 3)
          .select(col("doc_id"), posexplode(transform(
            sequence(lit(0), size(col("t")) - 3),
            i => Det.hash32(concat_ws(" ",
              element_at(col("t"), i + 1),
              element_at(col("t"), i + 2),
              element_at(col("t"), i + 3))))).as(Seq("pos", "kh")))
        val w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-3, 0)
        kgrams
          .withColumn("sel", min(col("kh")).over(w))
          .where(col("pos") >= 3)
          .select("doc_id", "sel").distinct()
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_fp"),
            min(col("sel")).as("min_fp"), sum(col("sel")).as("sum_fp"))
          .orderBy("doc_id")
      }),

    // Asymmetric token-set containment (round 9, third wave) — Broder's
    // OTHER resemblance measure: C(A→B) = |A∩B| / |A| (Broder 1997 calls
    // it containment), the doc-inside-doc detector Jaccard misses when
    // sizes differ wildly (a quote-with-commentary page has tiny Jaccard
    // against its source but containment ≈ 1). Same machinery as
    // llm_ngram_jaccard: packed sorted dictionary-id arrays, per-lang
    // block join, native two-pointer intersect — plus the
    // containment-specific length filter (|B| ≥ 0.8·|A| or C can't
    // reach 0.8) and the INTEGER threshold 5·i ≥ 4·n1 (no double
    // compare anywhere). Directed pairs d1≠d2. Budget-guarded like the
    // other exact-pair anchors; the bucketed path at corpus scale is
    // the same minhash banding (containment has its own unbiased
    // banded estimator over bottom-k sketches).
    Q("llm_containment", Some(
      "WITH toks AS (SELECT DISTINCT doc_id, tok FROM (" +
        "SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)), " +
        "dict AS (SELECT tok, CAST(DENSE_RANK() OVER (ORDER BY tok) - 1 AS INT) AS tid " +
        "FROM (SELECT DISTINCT tok FROM toks)), " +
        "masks AS (SELECT doc_id, tid // 63 AS w, SUM(CAST(1 AS BIGINT) << (tid % 63)) AS m " +
        "FROM toks JOIN dict USING (tok) GROUP BY doc_id, w), " +
        "sizes AS (SELECT doc_id, CAST(SUM(BIT_COUNT(m)) AS BIGINT) AS n FROM masks GROUP BY doc_id), " +
        "langd AS (SELECT doc_id, lang FROM documents), " +
        "inter AS (SELECT x.doc_id AS d1, y.doc_id AS d2, CAST(SUM(BIT_COUNT(x.m & y.m)) AS BIGINT) AS i " +
        "FROM masks x JOIN masks y ON y.w = x.w AND x.doc_id <> y.doc_id " +
        "JOIN langd la ON la.doc_id = x.doc_id JOIN langd lb ON lb.doc_id = y.doc_id AND lb.lang = la.lang " +
        "GROUP BY d1, d2), " +
        "f AS (SELECT d1, d2, i, s1.n AS n1 FROM inter JOIN sizes s1 ON d1 = s1.doc_id " +
        "WHERE 5 * i >= 4 * s1.n), " +
        "g AS (SELECT d1, CAST(COUNT(*) AS BIGINT) AS n_sup, MAX(i) AS mi, MAX(n1) AS n1 " +
        "FROM f GROUP BY d1) " +
        "SELECT g.d1, g.n_sup, g.n1, " +
        sqlS6("CAST(g.mi AS DOUBLE) / CAST(g.n1 AS DOUBLE)") + " AS best_cont6, " +
        "MIN(CASE WHEN f.i = g.mi THEN f.d2 END) AS best_d2 " +
        "FROM g JOIN f ON f.d1 = g.d1 " +
        "GROUP BY g.d1, g.n_sup, g.n1, g.mi ORDER BY g.d1"),
      (s, d) => {
        import graft.functions.VectorExprs.icount
        val toks = T.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val dict = TextOps.denseIds(toks.select("tok").distinct(), "tid")
        val langd = T.documents(s, d).select(col("doc_id"), col("lang"))
        val docsT = toks.join(broadcast(dict), "tok")
          .groupBy("doc_id")
          .agg(array_sort(collect_list(col("tid"))).as("ids"))
          .join(langd, "doc_id")
          .withColumn("n", size(col("ids")).cast("long"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        TextOps.guardPairBudget(docsT, Seq("lang"), "llm_containment",
          "use llm_minhash banded candidates (bottom-k sketches estimate " +
            "containment) at corpus scale")
        // size-gated build-side broadcast, the llm_ngram_jaccard contract
        val sizes = docsT.agg(count(lit(1)).as("c"),
          coalesce(sum(col("n")), lit(0L)).as("ids")).head()
        val estBytes = sizes.getLong(0) * 64L + sizes.getLong(1) * 8L
        val build = docsT.select(
          col("doc_id").as("d2"), col("lang"), col("ids").as("ib"))
        docsT.select(col("doc_id").as("d1"), col("lang"),
            col("ids").as("ia"), col("n").as("n1"))
          .join(if (estBytes <= (8L << 20)) broadcast(build) else build, Seq("lang"))
          // C(d1->d2) >= 0.8 needs |d2| >= 0.8*|d1|: prune before the
          // intersect (5*n2 >= 4*n1, integer form)
          .where(col("d1") =!= col("d2") &&
            lit(5) * size(col("ib")).cast("long") >= lit(4) * col("n1"))
          .withColumn("i", icount(col("ia"), col("ib")).cast("long"))
          .where(lit(5) * col("i") >= lit(4) * col("n1"))
          // per-doc subsumption summary, NOT the raw pair stream: the
          // output stays doc-count-sized at any duplication density
          // (this corpus: ~38k qualifying pairs at sf0.01 would grow
          // ~quadratically; the summary is what a dedup funnel consumes)
          .withColumn("mi", max(col("i")).over(Window.partitionBy("d1")))
          .groupBy("d1")
          .agg(count(lit(1)).as("n_sup"), max(col("mi")).as("mi"),
            max(col("n1")).as("n1"),
            min(when(col("i") === col("mi"), col("d2"))).as("best_d2"))
          .select(col("d1"), col("n_sup"), col("n1"),
            s6(col("mi").cast("double") / col("n1").cast("double")).as("best_cont6"),
            col("best_d2"))
          .orderBy("d1")
      }),

    // Bottom-k containment ESTIMATOR (round 9, fourth wave) — the scale
    // path llm_containment's guard names, graded end-to-end (the r8
    // rule: a documented 100-TB switch must be oracle-proven, not
    // advisory). Broder's bottom-k construction: sketch(A) = the k=32
    // tokens with smallest portable hash (ties by token — both engines
    // order identically under binary collation); est C(A→B) =
    // |sketch(A) ∩ B| / min(k, |A|), EXACT whenever |A| ≤ k and an
    // unbiased k-sample otherwise. The same per-doc subsumption summary
    // shape as the exact key so the two surfaces compare 1:1; the
    // estimator's recall against the exact key is property-pinned in
    // Round9cOpsSpec. Verify cost per pair drops from |A| to ≤ k — at
    // corpus scale the sketch side also feeds an inverted-index
    // (posting-list) join instead of the block join, the SSJoin shape.
    Q("llm_containment_est", Some(
      "WITH toks AS (SELECT DISTINCT doc_id, tok FROM (" +
        "SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)), " +
        "sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY doc_id), " +
        "langd AS (SELECT doc_id, lang FROM documents), " +
        "sk AS (SELECT doc_id, tok FROM (SELECT doc_id, tok, " +
        "ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY " + sqlHash32("tok") + ", tok) AS rn " +
        "FROM toks) WHERE rn <= 32), " +
        "m AS (SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS i " +
        "FROM sk a JOIN toks b ON b.tok = a.tok AND b.doc_id <> a.doc_id " +
        "JOIN langd la ON la.doc_id = a.doc_id " +
        "JOIN langd lb ON lb.doc_id = b.doc_id AND lb.lang = la.lang " +
        "GROUP BY d1, d2), " +
        "f AS (SELECT m.d1, m.d2, m.i, LEAST(32, s1.n) AS k, s1.n AS n1 " +
        "FROM m JOIN sizes s1 ON s1.doc_id = m.d1 JOIN sizes s2 ON s2.doc_id = m.d2 " +
        "WHERE 5 * s2.n >= 4 * s1.n AND 5 * m.i >= 4 * LEAST(32, s1.n)), " +
        "g AS (SELECT d1, CAST(COUNT(*) AS BIGINT) AS n_sup, MAX(i) AS mi, " +
        "MAX(k) AS k, MAX(n1) AS n1 FROM f GROUP BY d1) " +
        "SELECT g.d1, g.n_sup, g.n1, " +
        sqlS6("CAST(g.mi AS DOUBLE) / CAST(g.k AS DOUBLE)") + " AS best_est6, " +
        "MIN(CASE WHEN f.i = g.mi THEN f.d2 END) AS best_d2 " +
        "FROM g JOIN f ON f.d1 = g.d1 " +
        "GROUP BY g.d1, g.n_sup, g.n1, g.mi, g.k ORDER BY g.d1"),
      (s, d) => {
        import graft.functions.VectorExprs.icount
        val toks = T.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val dict = TextOps.denseIds(toks.select("tok").distinct(), "tid")
        val langd = T.documents(s, d).select(col("doc_id"), col("lang"))
        // per doc: full sorted id array + the bottom-32-by-(hash, tok)
        // sketch as a SORTED id array (ids are dictionary-arbitrary; the
        // intersect is permutation-invariant, the SELECTION is hash-tied)
        val docsT = toks.join(broadcast(dict), "tok")
          .withColumn("h", Det.hash32(col("tok")))
          .groupBy("doc_id")
          .agg(array_sort(collect_list(col("tid"))).as("ids"),
            array_sort(transform(
              slice(array_sort(collect_list(struct(col("h"), col("tok"), col("tid")))), 1, 32),
              e => e.getField("tid"))).as("sk"))
          .join(langd, "doc_id")
          .withColumn("n", size(col("ids")).cast("long"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        TextOps.guardPairBudget(docsT, Seq("lang"), "llm_containment_est",
          "route the sketch through an inverted-index posting join " +
            "(the oracle's own shape) at corpus scale")
        val k = least(lit(32L), col("n1"))
        val build = docsT.select(col("doc_id").as("d2"), col("lang"), col("ids").as("ib"),
          col("n").as("n2"))
        docsT.select(col("doc_id").as("d1"), col("lang"), col("sk").as("ska"),
            col("n").as("n1"))
          .join(build, Seq("lang"))
          .where(col("d1") =!= col("d2") && lit(5) * col("n2") >= lit(4) * col("n1"))
          .withColumn("i", icount(col("ska"), col("ib")).cast("long"))
          .where(lit(5) * col("i") >= lit(4) * k)
          .withColumn("mi", max(col("i")).over(Window.partitionBy("d1")))
          .groupBy("d1")
          .agg(count(lit(1)).as("n_sup"), max(col("mi")).as("mi"),
            max(k).as("k"), max(col("n1")).as("n1"),
            min(when(col("i") === col("mi"), col("d2"))).as("best_d2"))
          .select(col("d1"), col("n_sup"), col("n1"),
            s6(col("mi").cast("double") / col("k").cast("double")).as("best_est6"),
            col("best_d2"))
          .orderBy("d1")
      }),

    // Quality-weighted deterministic sampling (round 9, third wave) —
    // the importance-sampling step of corpus mixing (upsample long/high-
    // quality documents, downsample boilerplate) with the SAME
    // reproducibility contract as llm_sample_stratified: acceptance is a
    // pure function of the doc id (portable md5-derived hash vs a
    // per-doc acceptance threshold), so reruns, retries and both engines
    // select the identical set — no RNG, no shuffle, map-only and
    // scan-pushed. Acceptance rate = min(n_chars/4, 1000) permille:
    // length as the quality proxy this corpus affords (llm_quality's
    // composite score would slot in unchanged).
    Q("llm_sample_weighted", Some(
      "WITH p AS (SELECT doc_id, lang, n_chars, " +
        "LEAST(CAST(n_chars // 4 AS BIGINT), 1000) AS permille FROM documents) " +
        "SELECT doc_id, lang, permille FROM p " +
        "WHERE " + sqlHash32("CAST(doc_id AS VARCHAR) || ':w'") + " % 1000 < permille " +
        "ORDER BY doc_id"),
      (s, d) =>
        T.documents(s, d)
          .select(col("doc_id"), col("lang"),
            least(expr("n_chars div 4"), lit(1000L)).as("permille"))
          .where(Det.hash32(concat(col("doc_id").cast("string"), lit(":w")))
            % 1000 < col("permille"))
          .orderBy("doc_id")),

    // Zipf rank-frequency slope (round 9, third wave) — the corpus-health
    // diagnostic: natural text follows freq ∝ rank^s with s ≈ −1 (Zipf
    // 1949); heavy boilerplate or synthetic junk bends the log-log line.
    // OLS over (ln rank, ln freq) with every ln term s6-FLOORED before
    // the moment sums (the agg_entropy discipline — the sums are then
    // exact int64 and merge-order-free), slope/intercept as one fixed
    // double sequence. The ranking window runs over VOCABULARY-sized
    // rows after the one data-sized token aggregate; (count DESC, tok)
    // is a total order so ranks never tie ambiguously.
    Q("llm_zipf_slope", Some(
      "WITH t AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM (" +
        "SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents) GROUP BY tok), " +
        "r AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS BIGINT) AS rnk, c FROM t), " +
        "l AS (SELECT " + sqlS6(sqlLnInt("rnk")) + " AS x6, " +
        sqlS6(sqlLnInt("c")) + " AS y6 FROM r), " +
        "m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x6) AS BIGINT) AS sx, " +
        "CAST(SUM(y6) AS BIGINT) AS sy, CAST(SUM(x6 * y6) AS BIGINT) AS sxy, " +
        "CAST(SUM(x6 * x6) AS BIGINT) AS sxx FROM l) " +
        "SELECT n AS n_vocab, " +
        sqlS6("(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
          "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))") +
        " AS slope6, " +
        sqlS0("(CAST(sy AS DOUBLE) - " +
          "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
          "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) " +
          "* CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)") + " AS icept6 FROM m"),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val t = T.documents(s, d)
          .select(explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c"))
        val rnk = row_number().over(Window.orderBy(col("c").desc, col("tok"))).cast("long")
        val m = t.withColumn("rnk", rnk)
          .select(s6(lnInt(col("rnk"))).as("x6"),
            s6(lnInt(col("c"))).as("y6"))
          .agg(count(lit(1)).as("n"), sum(col("x6")).as("sx"), sum(col("y6")).as("sy"),
            sum(col("x6") * col("y6")).as("sxy"), sum(col("x6") * col("x6")).as("sxx"))
        val nD = col("n").cast("double")
        val sxD = col("sx").cast("double"); val syD = col("sy").cast("double")
        val slope = (nD * col("sxy").cast("double") - sxD * syD) /
          (nD * col("sxx").cast("double") - sxD * sxD)
        m.select(col("n").as("n_vocab"), s6(slope).as("slope6"),
          s0((syD - slope * sxD) / nD).as("icept6"))
      }),

    // Boilerplate line removal (round 9, fourth wave) — C4/CCNet's
    // line-level dedup (Raffel et al. 2020 drop lines occurring ≥3×;
    // CCNet hashes paragraphs across shards): a chunk that appears in
    // many DISTINCT documents is boilerplate (nav bars, license
    // headers) and is scrubbed from every document carrying it. Chunks
    // are TextOps.chunks10 (the shared 10-token stride + cap, so this
    // key, llm_chunk_dedup and llm_decontaminate cannot drift apart);
    // the df table is chunk-keyed (one shuffle), flags join back on the
    // chunk, and the per-doc summary carries an ORDER-FREE retained
    // fingerprint (Σ hash32(chunk) over kept chunks — portable and
    // partial-agg-safe where a concatenation would be order-dependent).
    // Linear end to end; the df join's build side is the boilerplate
    // dictionary — vocabulary-sized, broadcast at corpus scale.
    Q("llm_line_dedup", Some(
      "WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents), " +
        "chunks AS (SELECT doc_id, ARRAY_TO_STRING(LIST_SLICE(toks, i * 10 + 1, i * 10 + 10), ' ') AS chunk " +
        "FROM t, (SELECT UNNEST(RANGE(0, 1000)) AS i) idx WHERE i * 10 < LEN(toks)), " +
        "df AS (SELECT chunk, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs " +
        "FROM chunks GROUP BY chunk), " +
        "fl AS (SELECT c.doc_id, c.chunk, CASE WHEN df.n_docs >= 4 THEN 1 ELSE 0 END AS bp " +
        "FROM chunks c JOIN df USING (chunk)) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks, " +
        "CAST(SUM(bp) AS BIGINT) AS n_removed, " +
        "CAST(SUM(CASE WHEN bp = 0 THEN " + sqlHash32("chunk") + " END) AS BIGINT) AS kept_fp " +
        "FROM fl GROUP BY doc_id ORDER BY doc_id"),
      (s, d) => {
        val chunks = TextOps.chunks10(T.documents(s, d))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val df = chunks.groupBy("chunk")
          .agg(countDistinct(col("doc_id")).as("n_docs"))
        chunks.join(df, "chunk")
          .withColumn("bp", when(col("n_docs") >= 4, 1L).otherwise(0L))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"), sum(col("bp")).as("n_removed"),
            sum(when(col("bp") === 0, Det.hash32(col("chunk")))).as("kept_fp"))
          .orderBy("doc_id")
      }),

    // Dataset-card rollup (round 9, fourth wave) — the per-source
    // summary every corpus release ships (the "dataset card" numbers):
    // document/token counts, language spread, exact-duplicate share and
    // mean document length, in ONE pass over the corpus plus a
    // broadcast duplicate-dictionary join. The duplicate share reuses
    // llm_dedup_exact's md5 grouping; shares land on the s6 grid from
    // exact longs. Output is source-count-sized.
    Q("llm_corpus_report", Some(
      "WITH d AS (SELECT source, lang, doc_id, MD5(text) AS h, " +
        "LEN(STRING_SPLIT(text, ' ')) AS ntok, n_chars FROM documents), " +
        "dup AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY h), " +
        "g AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs, " +
        "CAST(SUM(d.ntok) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(d.n_chars) AS BIGINT) AS n_chars, " +
        "CAST(SUM(CASE WHEN dup.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup " +
        "FROM d JOIN dup ON dup.h = d.h GROUP BY d.source) " +
        "SELECT source, n_docs, n_langs, n_tokens, " +
        sqlS6("CAST(n_dup AS DOUBLE) / CAST(n_docs AS DOUBLE)") + " AS dup_share6, " +
        "CAST(FLOOR(CAST(n_chars AS DOUBLE) / CAST(n_docs AS DOUBLE) + 0.5) AS BIGINT) AS mean_chars " +
        "FROM g ORDER BY source"),
      (s, d) => {
        val dd = T.documents(s, d).select(col("source"), col("lang"), col("doc_id"),
          md5(col("text")).as("h"),
          size(split(col("text"), " ")).cast("long").as("ntok"), col("n_chars"))
        val dup = dd.groupBy("h").agg(count(lit(1)).as("cnt"))
        val g = dd.join(dup, "h")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), countDistinct(col("lang")).as("n_langs"),
            sum(col("ntok")).as("n_tokens"), sum(col("n_chars")).as("nc"),
            sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup"))
        g.select(col("source"), col("n_docs"), col("n_langs"), col("n_tokens"),
            s6(col("n_dup").cast("double") / col("n_docs").cast("double")).as("dup_share6"),
            floor(col("nc").cast("double") / col("n_docs").cast("double") + lit(0.5))
              .cast("long").as("mean_chars"))
          .orderBy("source")
      }),

    // BPE round-1 pair statistics (round 9, fourth wave) — the adjacency
    // counts a byte-pair-encoding trainer computes each merge round
    // (Sennrich et al. 2016): per language, the top-5 most frequent
    // adjacent CHARACTER pairs within tokens, ties to the
    // lexicographically smallest pair (the deterministic tie rule real
    // trainers fix for reproducible vocabularies). Pair explode is
    // linear in characters; the pick is a window top-5 over the
    // per-lang pair vocabulary — bounded rows after the one data-sized
    // aggregate.
    Q("llm_bpe_pairs", Some(
      "WITH t AS (SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents), " +
        "p AS (SELECT lang, SUBSTRING(tok, i, 2) AS pair " +
        "FROM t, (SELECT UNNEST(RANGE(1, 40)) AS i) idx WHERE i < LEN(tok)), " +
        "c AS (SELECT lang, pair, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY lang, pair), " +
        "r AS (SELECT lang, pair, n, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, pair) AS BIGINT) AS rnk FROM c) " +
        "SELECT lang, rnk, pair, n FROM r WHERE rnk <= 5 ORDER BY lang, rnk"),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val t = T.documents(s, d)
          .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        // positions 1..39 cover any token this vocabulary holds; the cap
        // is baked into the oracle's RANGE identically (the ChunkCap rule)
        val p = t.select(col("lang"),
            explode(sequence(lit(1), least(lit(39), length(col("tok")) - 1))).as("i"),
            col("tok"))
          .select(col("lang"), expr("substring(tok, i, 2)").as("pair"))
        val c = p.groupBy("lang", "pair").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("lang").orderBy(col("n").desc, col("pair"))
        c.withColumn("rnk", row_number().over(w).cast("long"))
          .where(col("rnk") <= 5)
          .select("lang", "rnk", "pair", "n")
          .orderBy("lang", "rnk")
      }),

    // BPE TRAINING LOOP (round 11, VERDICT r10 missing #4) — the
    // iterative merge llm_bpe_pairs only scores: K=6 rounds of "count
    // adjacent symbol pairs per lang → merge the most frequent pair
    // (ties to the lexicographically smallest) everywhere, greedy
    // left-to-right" [Sennrich et al. 2016], then encode the corpus
    // with the learned vocabulary. The trick that keeps BOTH engines on
    // one code path: a token's symbol sequence is encoded as the string
    // ␟sym₁␟␟sym₂␟␟…␟symₙ␟ (every symbol wrapped in CHR(31) on both
    // sides), so "merge pair (a,b)" is literally
    // REPLACE(tokstr, ␟a␟␟b␟, ␟ab␟) — the leading/trailing wraps make
    // partial-symbol matches impossible (␟xa␟␟b␟ never contains ␟a␟␟b␟)
    // and plain left-to-right REPLACE implements exactly BPE's greedy
    // non-overlapping merge in Spark and DuckDB alike. Work per round
    // is VOCABULARY-sized (distinct words × frequency weights), the
    // real trainer's shape; fixed-K both engines per the graph-loop
    // discipline, localCheckpoint per round. Output: the merge table
    // (round, merged symbol, adjacency count at pick time) plus the
    // final per-lang encoded symbol count.
    Q("llm_bpe_apply", Some {
      val S = "CHR(31)"
      val rounds = (1 to BpeRounds).map { r =>
        s"s$r AS (SELECT lang, freq, tokstr, " +
          s"STRING_SPLIT(SUBSTRING(tokstr, 2, LEN(tokstr) - 2), $S||$S) AS syms FROM v${r - 1}), " +
          s"c$r AS (SELECT lang, $S || syms[i] || $S || $S || syms[i+1] || $S AS pair, " +
          s"CAST(SUM(freq) AS BIGINT) AS n FROM s$r, (SELECT UNNEST(RANGE(1, (SELECT mxn FROM mx))) AS i) ix " +
          s"WHERE i < LEN(syms) GROUP BY lang, pair), " +
          s"w$r AS (SELECT lang, pair, n FROM (SELECT lang, pair, n, " +
          s"ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, pair) AS rk FROM c$r) WHERE rk = 1), " +
          s"v$r AS MATERIALIZED (SELECT v.lang, CASE WHEN w.pair IS NULL THEN v.tokstr " +
          s"ELSE REPLACE(v.tokstr, w.pair, REPLACE(w.pair, $S||$S, '')) END AS tokstr, v.freq " +
          s"FROM v${r - 1} v LEFT JOIN w$r w ON w.lang = v.lang)"
      }.mkString(", ")
      val merges = (1 to BpeRounds).map(r =>
        s"SELECT lang, CAST($r AS BIGINT) AS rnk, REPLACE(pair, $S, '') AS merged, n FROM w$r")
        .mkString(" UNION ALL ")
      // pair-position bound DERIVED from the corpus (ADVICE r11): merges
      // only shrink symbol counts, so round-1's max token length bounds
      // every round — no silent 64-symbol truncation on long tokens
      s"WITH v0 AS (SELECT lang, $S || ARRAY_TO_STRING(STRING_SPLIT(tok, ''), $S||$S) || $S AS tokstr, freq " +
        "FROM (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS freq FROM " +
        "(SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents) GROUP BY lang, tok)), " +
        "mx AS (SELECT CAST(MAX(LEN(tok)) AS BIGINT) AS mxn FROM " +
        "(SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)), " +
        rounds + ", " +
        s"m AS ($merges), " +
        s"fs AS (SELECT lang, CAST(SUM(freq * LEN(STRING_SPLIT(SUBSTRING(tokstr, 2, LEN(tokstr) - 2), $S||$S))) AS BIGINT) AS final_syms " +
        s"FROM v$BpeRounds GROUP BY lang) " +
        "SELECT m.lang, m.rnk, m.merged, m.n, fs.final_syms FROM m JOIN fs ON fs.lang = m.lang " +
        "ORDER BY m.lang, m.rnk"
    },
      (s, d) => bpeApply(s, d, BpeRounds)),

    // BPE train/apply SPLIT (round 13, VERDICT r12 item 4) — the
    // workflow llm_bpe_apply's single-corpus loop does not grade: a
    // tokenizer is TRAINED once (here: on the even-doc_id half) and then
    // APPLIED to text it never saw (the odd half) — every production
    // tokenizer's deploy shape [Sennrich et al. 2016 §3 "apply the
    // learned operations to the test set"]. Per round the argmax merge
    // (count DESC, pair lexicographic) is picked from the TRAIN vocab
    // only and REPLACE-applied to BOTH vocabs, so the held-out frame
    // never influences a pick; the graded surface is the learned merge
    // table AND the held-out compression it buys (symbol count before /
    // after — the tokenizer-quality number a train/apply split exists to
    // measure). Same ␟-wrapped encoding and REPLACE-merge law as
    // llm_bpe_apply; oracle = the identical two-vocab chain as
    // MATERIALIZED CTEs. Work per round stays vocabulary-sized.
    Q("llm_bpe_train", Some {
      val S = "CHR(31)"
      val rounds = (1 to BpeRounds).map { r =>
        s"s$r AS (SELECT lang, freq, tokstr, " +
          s"STRING_SPLIT(SUBSTRING(tokstr, 2, LEN(tokstr) - 2), $S||$S) AS syms FROM v${r - 1}), " +
          s"c$r AS (SELECT lang, $S || syms[i] || $S || $S || syms[i+1] || $S AS pair, " +
          s"CAST(SUM(freq) AS BIGINT) AS n FROM s$r, (SELECT UNNEST(RANGE(1, (SELECT mxn FROM mx))) AS i) ix " +
          s"WHERE i < LEN(syms) GROUP BY lang, pair), " +
          s"w$r AS (SELECT lang, pair, n FROM (SELECT lang, pair, n, " +
          s"ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, pair) AS rk FROM c$r) WHERE rk = 1), " +
          s"v$r AS MATERIALIZED (SELECT v.lang, CASE WHEN w.pair IS NULL THEN v.tokstr " +
          s"ELSE REPLACE(v.tokstr, w.pair, REPLACE(w.pair, $S||$S, '')) END AS tokstr, v.freq " +
          s"FROM v${r - 1} v LEFT JOIN w$r w ON w.lang = v.lang), " +
          s"h$r AS MATERIALIZED (SELECT h.lang, CASE WHEN w.pair IS NULL THEN h.tokstr " +
          s"ELSE REPLACE(h.tokstr, w.pair, REPLACE(w.pair, $S||$S, '')) END AS tokstr, h.freq " +
          s"FROM h${r - 1} h LEFT JOIN w$r w ON w.lang = h.lang)"
      }.mkString(", ")
      val merges = (1 to BpeRounds).map(r =>
        s"SELECT lang, CAST($r AS BIGINT) AS rnk, REPLACE(pair, $S, '') AS merged, n FROM w$r")
        .mkString(" UNION ALL ")
      def vocabCte(name: String, par: Int) =
        s"$name AS (SELECT lang, $S || ARRAY_TO_STRING(STRING_SPLIT(tok, ''), $S||$S) || $S AS tokstr, freq " +
          "FROM (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS freq FROM " +
          s"(SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents WHERE doc_id % 2 = $par) " +
          "GROUP BY lang, tok))"
      def symsCte(name: String, src: String, alias: String) =
        s"$name AS (SELECT lang, CAST(SUM(freq * LEN(STRING_SPLIT(SUBSTRING(tokstr, 2, LEN(tokstr) - 2), $S||$S))) AS BIGINT) AS $alias " +
          s"FROM $src GROUP BY lang)"
      s"WITH ${vocabCte("v0", 0)}, ${vocabCte("h0", 1)}, " +
        "mx AS (SELECT CAST(MAX(LEN(tok)) AS BIGINT) AS mxn FROM " +
        "(SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)), " +
        rounds + ", " +
        s"m AS ($merges), " +
        symsCte("hs0", "h0", "heldout_syms0") + ", " +
        symsCte("hsk", s"h$BpeRounds", "heldout_symsk") + " " +
        "SELECT m.lang, m.rnk, m.merged, m.n, hs0.heldout_syms0, hsk.heldout_symsk " +
        "FROM m JOIN hs0 ON hs0.lang = m.lang JOIN hsk ON hsk.lang = m.lang " +
        "ORDER BY m.lang, m.rnk"
    },
      (s, d) => bpeTrainHeldout(s, d, BpeRounds)),

    // Unigram-LM tokenizer training (round 14) — see
    // [[unigramTrainHeldout]] for the full semantics (3-path Viterbi
    // hard-EM + bottom-quarter pruning, s6 Laplace log-probs, heldout
    // pieces-per-word grading). Oracle = the same K rounds unrolled as
    // MATERIALIZED CTEs, the llm_bpe_train pattern.
    Q("llm_unigram_train", Some {
      val kk = UnigramRounds
      unigramSqlPrefix + ", " +
        s"hb AS (SELECT lang, freq, len, CASE " +
        s"WHEN llw IS NOT NULL AND llw >= COALESCE(lls, $UnigramNegInf) AND llw >= llc THEN 0 " +
        "WHEN lls IS NOT NULL AND lls >= llc THEN 1 ELSE 2 END AS path FROM hew), " +
        "hh AS (SELECT lang, CAST(SUM(freq * (CASE path WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE len END)) AS BIGINT) AS held_pieces, " +
        "CAST(SUM(freq) AS BIGINT) AS held_words FROM hb GROUP BY lang) " +
        s"SELECT s.lang, s.piece, s.cnt, lp.lp6, hh.held_pieces, hh.held_words " +
        s"FROM s$kk s JOIN lp$kk lp ON lp.lang = s.lang AND lp.piece = s.piece " +
        "JOIN hh ON hh.lang = s.lang ORDER BY s.lang, s.piece"
    },
      (s, d) => unigramTrainHeldout(s, d, UnigramRounds)),

    // Unigram-LM APPLY rung (round 16, VERDICT r15 missing #4) — the
    // missing half of the SentencePiece train/apply symmetry [Kudo
    // 2018]: corpus-scale Viterbi segmentation of the HELDOUT half
    // under the FROZEN trained piece table (re-derived in-plan per
    // invocation, [[unigramLpFrozen]]; llm_unigram_train keeps its own
    // loop because it grades TRAINING). Graded per
    // heldout unit type: the integer-argmax path over the 3-path
    // lattice (whole 0 / split 1 / chars 2, ties whole > split >
    // chars), the resulting piece count, and the CHOSEN path's exact
    // lattice score — so any drift in the frozen table, a lattice
    // score, or the argmax moves a graded integer. Consistent by
    // construction with the train key's heldout law:
    // Σ freq·n_pieces = held_pieces per lang (Round16OpsSpec pins the
    // cross-key equality). Scale shape: application is three bounded
    // piece-table joins + one (lang, unit) partial agg — map-side
    // against the broadcastable frozen vocabulary, corpus-linear.
    Q("llm_unigram_apply", Some {
      unigramSqlPrefix + " " +
        "SELECT lang, w, freq, CAST(path AS BIGINT) AS path, " +
        "CAST(CASE path WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE len END AS BIGINT) AS n_pieces, " +
        "CAST(CASE path WHEN 0 THEN llw WHEN 1 THEN lls ELSE llc END AS BIGINT) AS score6 " +
        "FROM (SELECT lang, w, freq, len, llw, lls, llc, CASE " +
        s"WHEN llw IS NOT NULL AND llw >= COALESCE(lls, $UnigramNegInf) AND llw >= llc THEN 0 " +
        "WHEN lls IS NOT NULL AND lls >= llc THEN 1 ELSE 2 END AS path FROM hew) " +
        "ORDER BY lang, w"
    },
      (s, d) => {
        val lp = unigramLpFrozen(s, d)
        val ht = unigramUnitTypes(s, d, 1)
        val hch = unigramCharMult(ht).localCheckpoint()
        unigramEstep(d, ht, hch, lp)
          .select(col("lang"), col("w"), col("freq"),
            col("path").cast("long").as("path"),
            when(col("path") === 0, 1L).when(col("path") === 1, 2L)
              .otherwise(col("len").cast("long")).as("n_pieces"),
            when(col("path") === 0, col("llw"))
              .when(col("path") === 1, col("lls"))
              .otherwise(col("llc")).cast("long").as("score6"))
          .orderBy("lang", "w")
      }),


    // Character-entropy gibberish filter (round 9, fourth wave) — the
    // cheap pre-quality screen (random bytes and key-mash have
    // near-uniform character entropy; natural text sits lower): Shannon
    // entropy of each document's character distribution, each
    // −(c/n)·ln(c/n) term s6-floored BEFORE the per-doc sum (the
    // agg_entropy discipline). The explode is linear in characters and
    // collapses to (doc, char) counts map-side; output is doc-sized.
    Q("llm_char_entropy", Some(
      "WITH ch AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, '')) AS c FROM documents), " +
        "cc AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS k FROM ch GROUP BY doc_id, c), " +
        "n AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n FROM cc GROUP BY doc_id), " +
        "t AS (SELECT cc.doc_id, " +
        sqlS6("-(CAST(k AS DOUBLE) / CAST(n.n AS DOUBLE)) * " + sqlLnRatio("k", "n.n")) +
        " AS e6 FROM cc JOIN n ON n.doc_id = cc.doc_id) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct_chars, " +
        "CAST(SUM(e6) AS BIGINT) AS entropy6 " +
        "FROM t GROUP BY doc_id ORDER BY doc_id"),
      (s, d) => {
        val cc = T.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
          .groupBy("doc_id", "c").agg(count(lit(1)).as("k"))
        val n = cc.groupBy("doc_id").agg(sum(col("k")).as("n"))
        val ratio = col("k").cast("double") / col("n").cast("double")
        cc.join(n, "doc_id")
          .select(col("doc_id"), s6(-ratio * lnRatio(col("k"), col("n"))).as("e6"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_distinct_chars"), sum(col("e6")).as("entropy6"))
          .orderBy("doc_id")
      }),

    // Duplicate-n-gram fraction (round 9, sixth wave) — the per-doc
    // "how much of me is boilerplate" diagnostic (the memorization/
    // near-dup screen of Gopher's repetition table at n=8, run against
    // the CORPUS rather than within the doc — llm_repetition covers the
    // within-doc case): share of a doc's DISTINCT 8-grams that occur in
    // at least one other document. Linear end-to-end: explode → distinct
    // → one shuffle on the n-gram key for the doc-frequency counts →
    // rejoin → per-doc aggregate. Docs under 8 tokens have no 8-grams
    // and drop out identically on both engines.
    Q("llm_dup_ngram_fraction", Some(
      "WITH g AS (SELECT DISTINCT doc_id, ng FROM (" +
        "SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks) - 6), " +
        "i -> ARRAY_TO_STRING(toks[i:i+7], ' '))) AS ng " +
        "FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents) " +
        "WHERE LEN(toks) >= 8) x), " +
        "df AS (SELECT ng, CAST(COUNT(*) AS BIGINT) AS nd FROM g GROUP BY ng) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams, " +
        "CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup, " +
        sqlS6("CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)") +
        " AS dup_frac6 " +
        "FROM g JOIN df USING (ng) GROUP BY doc_id ORDER BY doc_id"),
      (s, d) => {
        val g = T.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .where(size(col("toks")) >= 8)
          .select(col("doc_id"), explode(transform(
            sequence(lit(1), size(col("toks")) - 7),
            i => array_join(slice(col("toks"), i, lit(8)), " "))).as("ng"))
          .distinct()
        val df = g.groupBy("ng").agg(count(lit(1)).as("nd"))
        val dup = when(col("nd") >= 2, 1L).otherwise(0L)
        g.join(df, "ng")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_ngrams"), sum(dup).as("n_dup"))
          .select(col("doc_id"), col("n_ngrams"), col("n_dup"),
            s6(col("n_dup").cast("double") / col("n_ngrams").cast("double"))
              .as("dup_frac6"))
          .orderBy("doc_id")
      }),

    // Substring-granular duplicate-SPAN extraction (round 12, VERDICT
    // r11 item 3) — the Lee et al. 2022 ("Deduplicating Training Data
    // Makes Language Models Better") ExactSubstr op the dedup family
    // lacked: document-level dedup misses long byte-identical SPANS
    // embedded in otherwise-distinct documents, so the production
    // pipeline extracts every cross-document duplicated run of ≥ L
    // tokens and removes/flags those spans. Relational form of the
    // suffix-array anchor+extend: every L=5-token window is an anchor
    // key; an anchor is duplicated if its gram occurs in ≥ 2 DISTINCT
    // docs; maximal spans are consecutive duplicated anchors merged by
    // the gaps-and-islands trick (i − row_number over (doc, order i) is
    // constant within a run — the "extend" step, exact because two
    // adjacent duplicated L-grams overlap in L−1 tokens), and a span of
    // k anchors covers k+L−1 tokens. Output per affected doc: span
    // count, total duplicated tokens, longest span, first span start —
    // all integers. Scale shape: ONE gram-keyed shuffle (map-side
    // combined distinct-doc counts) — the same partition-by-ngram plan
    // a 100 TB suffix pipeline runs — then a semi-join back and one
    // doc-keyed window; no pairwise doc joins anywhere.
    Q("llm_substr_dedup", Some(
      "WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents), " +
        "grams AS (SELECT doc_id, i, ARRAY_TO_STRING(tk[i:i+4], ' ') AS g " +
        "FROM toks, (SELECT UNNEST(RANGE(1, (SELECT MAX(LEN(tk)) FROM toks) + 1)) AS i) ix " +
        "WHERE i + 4 <= LEN(tk)), " +
        "dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2), " +
        "anch AS (SELECT doc_id, i FROM grams JOIN dup USING (g)), " +
        "runs AS (SELECT doc_id, i, i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM anch), " +
        "spans AS (SELECT doc_id, grp, CAST(COUNT(*) + 4 AS BIGINT) AS span_toks, " +
        "CAST(MIN(i) AS BIGINT) AS start_i FROM runs GROUP BY doc_id, grp) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans, " +
        "CAST(SUM(span_toks) AS BIGINT) AS dup_tokens, " +
        "CAST(MAX(span_toks) AS BIGINT) AS max_span, " +
        "CAST(MIN(start_i) AS BIGINT) AS first_start " +
        "FROM spans GROUP BY doc_id ORDER BY doc_id"),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val L = 5
        val grams = T.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
          .where(size(col("tk")) >= L)
          .select(col("doc_id"), posexplode(transform(
            sequence(lit(1), size(col("tk")) - (L - 1)),
            i => array_join(slice(col("tk"), i, lit(L)), " "))).as(Seq("p0", "g")))
          .select(col("doc_id"), (col("p0") + 1).cast("long").as("i"), col("g"))
          .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        val dup = grams.groupBy("g")
          .agg(countDistinct(col("doc_id")).as("nd"))
          .where(col("nd") >= 2)
          .select("g")
        val anch = grams.join(dup, Seq("g"), "left_semi")
        val w = Window.partitionBy("doc_id").orderBy("i")
        anch
          .withColumn("grp", col("i") - row_number().over(w))
          .groupBy("doc_id", "grp")
          .agg((count(lit(1)) + (L - 1)).as("span_toks"),
            min(col("i")).as("start_i"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(col("span_toks")).as("dup_tokens"),
            max(col("span_toks")).as("max_span"),
            min(col("start_i")).as("first_start"))
          .orderBy("doc_id")
      }),

    // DSIR importance weights (round 9, sixth wave) — Data Selection
    // via Importance Resampling (Xie et al. 2023): score every raw doc
    // by Σ_tokens log(p_target(b)/p_raw(b)) over HASHED unigram buckets
    // (1024 buckets of the portable Det.hash32; the paper hashes n-gram
    // features for exactly this closed-dictionary property), target =
    // the English slice, raw = the whole corpus, both Laplace-smoothed.
    // The bucket dictionary is 1024 rows at ANY corpus size — built in
    // one partial-agg shuffle, broadcast back over the token stream
    // (map-side), per-token log-ratios s6-floored BEFORE the order-free
    // per-doc long sum (the PMI/logprob LN discipline).
    Q("llm_dsir", Some {
      // ln(pt/pr) with pt = (ct+1)/(nt+1024), pr = (cr+1)/(nr+1024):
      // four portable lnInt terms in a pinned order (round 10, no libm)
      val lnw = s"(((${sqlLnInt("(ct + 1)")} - ${sqlLnInt("(nt + 1024)")}) - " +
        s"${sqlLnInt("(cr + 1)")}) + ${sqlLnInt("(nr + 1024)")})"
      "WITH tok AS (SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS t " +
        "FROM documents), " +
        "tb AS (SELECT doc_id, lang, " + sqlHash32("t") + " % 1024 AS b FROM tok), " +
        "dict AS (SELECT b, CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct, " +
        "CAST(COUNT(*) AS BIGINT) AS cr FROM tb GROUP BY b), " +
        "tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr FROM dict), " +
        "w AS (SELECT doc_id, " + sqlS6(lnw) + " AS w6 " +
        "FROM tb JOIN dict USING (b) CROSS JOIN tot) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks, " +
        "CAST(SUM(w6) AS BIGINT) AS dsir6 FROM w GROUP BY doc_id ORDER BY doc_id"
    },
      (s, d) => {
        val tb = T.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("t"))
          .select(col("doc_id"), col("lang"),
            (graft.Det.hash32(col("t")) % 1024).as("b"))
        val dict = tb.groupBy("b")
          .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"),
            count(lit(1)).as("cr"))
        val tot = dict.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
        val lnw = lnInt(col("ct") + 1) - lnInt(col("nt") + 1024) -
          lnInt(col("cr") + 1) + lnInt(col("nr") + 1024)
        tb.join(broadcast(dict), "b")
          .crossJoin(broadcast(tot))
          .select(col("doc_id"), s6(lnw).as("w6"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_toks"), sum(col("w6")).as("dsir6"))
          .orderBy("doc_id")
      }),

    // CCNet perplexity buckets (round 9, sixth wave) — the published
    // head/middle/tail quality split (Wenzek et al. 2020): score every
    // doc by its average negative log-probability under a PER-LANGUAGE
    // unigram LM (the llm_unigram_logprob construction, per lang), then
    // tercile-bucket WITHIN each language by that score — lower
    // perplexity = head, the slice CCNet keeps. Terms s6-floored before
    // the order-free per-doc sum; the per-doc average is one divide
    // floored back to the grid, so the bucket boundary ranks integers
    // with (score, doc_id) tie order. The per-lang rank window is the
    // recipe's own requirement (CCNet sorts each language shard); at
    // open-corpus scale the cut comes from a quantile sketch instead —
    // same output contract, documented swap.
    Q("llm_ccnet_bucket", Some(
      "WITH t AS (SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents), " +
        "cf AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY lang, tok), " +
        "nl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS total FROM t GROUP BY lang), " +
        "sc AS (SELECT doc_id, t.lang, CAST(COUNT(*) AS BIGINT) AS n_tok, " +
        "CAST(SUM(" + sqlS6("-" + sqlLnRatio("c", "total")) + ") AS BIGINT) AS sum_nl6 " +
        "FROM t JOIN cf ON cf.lang = t.lang AND cf.tok = t.tok " +
        "JOIN nl ON nl.lang = t.lang GROUP BY doc_id, t.lang), " +
        "p AS (SELECT doc_id, lang, " +
        "CAST(FLOOR(CAST(sum_nl6 AS DOUBLE) / CAST(n_tok AS DOUBLE) + 0.5) AS BIGINT) AS avg_nl6 " +
        "FROM sc), " +
        "r AS (SELECT doc_id, lang, avg_nl6, " +
        "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY avg_nl6, doc_id) AS rn, " +
        "COUNT(*) OVER (PARTITION BY lang) AS n FROM p) " +
        "SELECT doc_id, lang, avg_nl6, " +
        "CASE (rn - 1) * 3 // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket " +
        "FROM r ORDER BY doc_id"),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val t = T.documents(s, d)
          .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
        val cf = t.groupBy("lang", "tok").agg(count(lit(1)).as("c"))
        val nl = t.groupBy("lang").agg(count(lit(1)).as("total"))
        val sc = t.join(broadcast(cf), Seq("lang", "tok"))
          .join(broadcast(nl), "lang")
          .groupBy("doc_id", "lang")
          .agg(count(lit(1)).as("n_tok"),
            sum(s6(-lnRatio(col("c"), col("total")))).as("sum_nl6"))
        val p = sc.select(col("doc_id"), col("lang"),
          floor(col("sum_nl6").cast("double") / col("n_tok").cast("double") + 0.5)
            .cast("long").as("avg_nl6"))
        val r = p
          .withColumn("rn", row_number().over(
            Window.partitionBy("lang").orderBy(col("avg_nl6"), col("doc_id"))))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
        r.select(col("doc_id"), col("lang"), col("avg_nl6"),
            when(expr("(rn - 1) * 3 div n") === 0, "head")
              .when(expr("(rn - 1) * 3 div n") === 1, "middle")
              .otherwise("tail").as("bucket"))
          .orderBy("doc_id")
      }),

    // Soft dedup weights (round 9, sixth wave) — the down-weighting
    // alternative to removal: instead of keeping one copy per exact-
    // duplicate cluster (llm_dedup_exact), every copy survives with
    // sampling weight 1/cluster_size, so the cluster contributes one
    // document's worth of probability mass in expectation (the repeated-
    // data correction the data-constrained scaling-law literature
    // applies [Muennighoff et al. 2023]). Same md5 fingerprint groups,
    // one extra broadcast of the duplicate-count dictionary (duplicate
    // clusters only — it stays tiny relative to the corpus); the weight
    // is one IEEE divide on the s6 grid. Linear, two partial-agg
    // shuffles.
    Q("llm_dedup_weight", Some(
      "WITH f AS (SELECT doc_id, MD5(text) AS fp FROM documents), " +
        "c AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS cnt FROM f GROUP BY fp) " +
        "SELECT doc_id, cnt AS dup_count, " +
        sqlS6("1.0 / CAST(cnt AS DOUBLE)") + " AS weight6 " +
        "FROM f JOIN c USING (fp) ORDER BY doc_id"),
      (s, d) => {
        val f = T.documents(s, d).select(col("doc_id"), md5(col("text")).as("fp"))
        val c = f.groupBy("fp").agg(count(lit(1)).as("cnt"))
        f.join(broadcast(c), "fp")
          .select(col("doc_id"), col("cnt").as("dup_count"),
            s6(lit(1.0) / col("cnt").cast("double")).as("weight6"))
          .orderBy("doc_id")
      }),

    // Jensen-Shannon divergence between per-source unigram distributions
    // (round 9, seventh wave) — the symmetric, bounded [0, ln 2] drift
    // metric corpus curators use to compare slices before mixing (PSI's
    // information-theoretic sibling; dq_drift_psi covers the numeric
    // case, this covers vocabulary distributions). For every source pair
    // a<b: JSD = ½Σp·ln(2p/(p+q)) + ½Σq·ln(2q/(p+q)), where tokens
    // present in only one side contribute exactly ½p·ln2 — that whole
    // disjoint mass folds into ONE closed-form term per pair from exact
    // counts, so only the token INTERSECTION is joined (a tok-keyed
    // self-join of the |sources|×|vocab| count table, never doc-sized).
    // Each intersection term is s6-floored before its order-free sum
    // (the llm_unigram_logprob LN discipline); the two disjoint-mass
    // terms are one fixed IEEE sequence each.
    Q("llm_jsd_drift", Some(jsdDriftOracle),
      (s, d) => {
        val t = T.documents(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        val cf = t.groupBy("source", "tok").agg(count(lit(1)).as("c"))
          .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        val tot = cf.groupBy("source").agg(sum("c").as("n"))
        val x = cf.select(col("source").as("sa"), col("tok"), col("c").as("ca"))
          .join(broadcast(tot.select(col("source").as("sa"), col("n").as("na"))), "sa")
        val y = cf.select(col("source").as("sb"), col("tok"), col("c").as("cb"))
          .join(broadcast(tot.select(col("source").as("sb"), col("n").as("nb"))), "sb")
        val p = col("ca").cast("double") / col("na").cast("double")
        val q = col("cb").cast("double") / col("nb").cast("double")
        val term = lit(0.5) * (p * lnRatio(lit(2) * col("u"), col("u") + col("v")) +
          q * lnRatio(lit(2) * col("v"), col("u") + col("v")))
        val inter = x.join(y, Seq("tok"))
          .where(col("sa") < col("sb"))
          .withColumn("u", col("ca") * col("nb"))
          .withColumn("v", col("cb") * col("na"))
          .groupBy("sa", "sb")
          .agg(count(lit(1)).as("n_common"), sum(s6(term)).as("inter6"),
            sum("ca").as("ia"), sum("cb").as("ib"),
            min("na").as("na"), min("nb").as("nb"))
        val ln2 = lit(0.6931471805599453)
        val missA = (col("na") - col("ia")).cast("double") / col("na").cast("double")
        val missB = (col("nb") - col("ib")).cast("double") / col("nb").cast("double")
        inter.select(col("sa").as("source_a"), col("sb").as("source_b"),
          col("n_common"),
          (col("inter6") + s6(lit(0.5) * ln2 * missA) +
            s6(lit(0.5) * ln2 * missB)).as("jsd6"))
          .orderBy("source_a", "source_b")
      }),

    // Held-out cross-entropy (round 9, seventh wave) — the eval half of
    // the llm_unigram_logprob family: a unigram LM with add-1 (Laplace)
    // smoothing is FIT on the 80% train split (the llm_pack hash-shard
    // discipline: md5-derived fold, no RNG) and SCORED on the held-out
    // 20%, per language — the perplexity-style readout that catches
    // train/eval drift a single in-corpus logprob can't. OOV test
    // tokens fall through the same (c+1)/(N+V) formula at c = 0, so one
    // left join + one fixed LN sequence covers both branches; every
    // per-token term s6-floors before its order-free sum. The count
    // dictionary is vocab-sized and broadcast — the test stream never
    // shuffles more than its own token partial-agg.
    Q("llm_heldout_ce", Some {
      // -ln((c0+1)/(nl+vl)) via the portable lnRatio (round 10, no libm)
      val negLnP = "-" + sqlLnRatio("(COALESCE(c, 0) + 1)", "(nl + vl)")
      "WITH t AS (SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok, " +
        sqlHash32("CAST(doc_id AS VARCHAR)") + " % 5 AS fold FROM documents), " +
        "tr AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c FROM t WHERE fold <> 0 GROUP BY lang, tok), " +
        "m AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS nl, CAST(COUNT(*) AS BIGINT) AS vl FROM tr GROUP BY lang), " +
        "te AS (SELECT t.lang, t.doc_id, t.tok, tr.c FROM t " +
        "LEFT JOIN tr ON tr.lang = t.lang AND tr.tok = t.tok WHERE t.fold = 0) " +
        "SELECT te.lang, CAST(COUNT(DISTINCT te.doc_id) AS BIGINT) AS n_test_docs, " +
        "CAST(COUNT(*) AS BIGINT) AS n_tok, " +
        "CAST(SUM(CASE WHEN te.c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
        "CAST(SUM(" + sqlS6(negLnP) + ") AS BIGINT) AS sum_ce6 " +
        "FROM te JOIN m ON m.lang = te.lang GROUP BY te.lang ORDER BY te.lang"
    },
      (s, d) => {
        val t = T.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("tok"),
            (Det.hash32(col("doc_id").cast("string")) % 5).as("fold"))
        val tr = t.where(col("fold") =!= 0)
          .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
        val m = tr.groupBy("lang")
          .agg(sum("c").as("nl"), count(lit(1)).as("vl"))
        val te = t.where(col("fold") === 0)
          .join(broadcast(tr), Seq("lang", "tok"), "left")
          .join(broadcast(m), "lang")
        val negLnP = -lnRatio(coalesce(col("c"), lit(0L)) + 1,
          col("nl") + col("vl"))
        te.groupBy("lang")
          .agg(countDistinct(col("doc_id")).as("n_test_docs"),
            count(lit(1)).as("n_tok"),
            sum(when(col("c").isNull, 1L).otherwise(0L)).as("n_oov"),
            sum(s6(negLnP)).as("sum_ce6"))
          .orderBy("lang")
      }),

    // Prefix dedup (round 9, seventh wave) — the crawl-specific member
    // of the dedup family: boilerplate-led pages and truncation variants
    // share their opening bytes even when tails differ, so grouping on
    // the md5 of the first 64 characters catches near-dups the exact
    // hash misses while staying a LINEAR hash-group-by (no pair join at
    // all — the cheapest rung on the dedup ladder, run before minhash).
    // Keep-longest (ties → smallest doc_id), the llm_dedup_apply pick.
    Q("llm_prefix_dedup", Some(
      "WITH f AS (SELECT doc_id, MD5(SUBSTRING(text, 1, 64)) AS pfx, " +
        "CAST(LENGTH(text) AS BIGINT) AS len FROM documents), " +
        "r AS (SELECT doc_id, pfx, len, " +
        "ROW_NUMBER() OVER (PARTITION BY pfx ORDER BY len DESC, doc_id) AS rn, " +
        "COUNT(*) OVER (PARTITION BY pfx) AS n_members FROM f) " +
        "SELECT doc_id AS kept_id, pfx, CAST(n_members AS BIGINT) AS n_members " +
        "FROM r WHERE rn = 1 ORDER BY pfx"),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val f = T.documents(s, d)
          .select(col("doc_id"), md5(substring(col("text"), 1, 64)).as("pfx"),
            length(col("text")).cast("long").as("len"))
        val wPick = Window.partitionBy("pfx").orderBy(col("len").desc, col("doc_id"))
        val wAll = Window.partitionBy("pfx")
        f.withColumn("rn", row_number().over(wPick))
          .withColumn("n_members", count(lit(1)).over(wAll))
          .where(col("rn") === 1)
          .select(col("doc_id").as("kept_id"), col("pfx"),
            col("n_members").cast("long").as("n_members"))
          .orderBy("pfx")
      }),

    // Feature hashing (round 9, seventh wave) — the hashing trick
    // (Weinberger et al. 2009 / Vowpal Wabbit): bag-of-words folded into
    // a FIXED 64-bucket vector by the portable token hash, sign from the
    // hash's next bit so collisions cancel in expectation — the
    // featurizer that needs NO vocabulary pass at any corpus size. Per
    // doc: the exact integer ‖v‖² over signed bucket counts, nonzero
    // bucket count, and a position-weighted checksum pinning every
    // bucket value. Map + one (doc, bucket) partial agg — linear,
    // dictionary-free (the tf-idf key's broadcast-df join disappears).
    Q("llm_feature_hash", Some(
      "WITH t AS (SELECT doc_id, " + sqlHash32("UNNEST(STRING_SPLIT(text, ' '))") +
        " AS h FROM documents), " +
        "b AS (SELECT doc_id, h % 64 AS bucket, " +
        "CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS sg FROM t), " +
        "v AS (SELECT doc_id, bucket, CAST(SUM(sg) AS BIGINT) AS w FROM b GROUP BY doc_id, bucket) " +
        "SELECT doc_id, CAST(SUM(CASE WHEN w <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nnz, " +
        "CAST(SUM(w * w) AS BIGINT) AS norm_sq, " +
        "CAST(SUM(w * (bucket + 1)) AS BIGINT) AS checksum " +
        "FROM v GROUP BY doc_id ORDER BY doc_id"),
      (s, d) => {
        val t = T.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .select(col("doc_id"), Det.hash32(col("tok")).as("h"))
        t.select(col("doc_id"), (col("h") % 64).as("bucket"),
            when(expr("(h div 64) % 2") === 0, 1L).otherwise(-1L).as("sg"))
          .groupBy("doc_id", "bucket").agg(sum("sg").as("w"))
          .groupBy("doc_id")
          .agg(sum(when(col("w") =!= 0, 1L).otherwise(0L)).as("nnz"),
            sum(col("w") * col("w")).as("norm_sq"),
            sum(col("w") * (col("bucket") + 1)).as("checksum"))
          .orderBy("doc_id")
      }),

    // SimHash cosine ESTIMATOR (round 9, seventh wave) — Charikar 2002:
    // P[bit agreement] = 1 − θ/π, so cos(π·hamming/32) estimates the
    // cosine between the term-frequency vectors — the decision value a
    // 100-TB near-dup funnel thresholds on instead of re-tokenizing
    // (llm_minhash_est's role for the Jaccard side). Candidates come
    // from 4×8-bit banding over the graded 32-bit signature (bucketed,
    // never all-pairs; 256-way buckets keep candidate volume near-linear
    // on a dup-dense corpus — pigeonhole-COMPLETE for hamming ≤ 3, a
    // recall trade the banded-candidate contract makes explicit: the
    // oracle spells the same bands, so the graded semantics is the
    // estimator on ITS OWN candidate set); hamming is one XOR+popcount
    // per candidate; the
    // single COS call runs on a fixed rational multiple of π under the
    // eo_reproject coarse-grid rule (1 ulp ≪ the s6 grid). Graded rows
    // keep only the hamming ≤ 8 DECISION REGION — the threshold band a
    // funnel acts on (and the bound that keeps output pair-light on a
    // dup-dense corpus; the full candidate set stays internal).
    Q("llm_simhash_est", Some {
      val accCols = (0 until 32).map(b =>
        s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN w ELSE -w END) AS acc$b").mkString(", ")
      val sigExpr = (0 until 32).map(b =>
        s"(CASE WHEN acc$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      "WITH t AS (SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents), " +
        "th AS (SELECT doc_id, lang, tok, CAST(COUNT(*) AS BIGINT) AS w, " +
        sqlHash32("tok") + " AS h FROM t GROUP BY doc_id, lang, tok), " +
        s"acc AS (SELECT doc_id, lang, $accCols FROM th GROUP BY doc_id, lang), " +
        s"sigs AS (SELECT doc_id, lang, CAST($sigExpr AS BIGINT) AS sig FROM acc), " +
        "bands AS (SELECT doc_id, lang, sig, b, (sig >> CAST(8 * b AS INTEGER)) & 255 AS bv " +
        "FROM sigs CROSS JOIN (SELECT UNNEST(RANGE(0, 4)) AS b) bs), " +
        "cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2 FROM bands x " +
        "JOIN bands y ON y.lang = x.lang AND y.b = x.b AND y.bv = x.bv AND x.doc_id < y.doc_id), " +
        "hm AS (SELECT c.d1, c.d2, CAST(BIT_COUNT(XOR(a.sig, b2.sig)) AS BIGINT) AS hamming " +
        "FROM cand c JOIN sigs a ON a.doc_id = c.d1 JOIN sigs b2 ON b2.doc_id = c.d2) " +
        "SELECT d1, d2, hamming, " +
        sqlS6("COS(PI() * CAST(hamming AS DOUBLE) / 32.0)") + " AS est_cos6 " +
        "FROM hm WHERE hamming <= 8 ORDER BY d1, d2"
    },
      (s, d) => {
        val th = T.documents(s, d)
          .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("doc_id", "lang", "tok").agg(count(lit(1)).as("w"))
          .withColumn("h", Det.hash32(col("tok")))
        val accCols = (0 until 32).map(b =>
          sum(when(expr(s"(h >> $b) & 1") === 1, col("w")).otherwise(-col("w")))
            .as(s"acc$b"))
        val sig = (0 until 32).map(b =>
          when(col(s"acc$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)
        val sigs = th.groupBy("doc_id", "lang")
          .agg(accCols.head, accCols.tail: _*)
          .select(col("doc_id"), col("lang"), sig.as("sig"))
          .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        val bands = sigs.crossJoin(broadcast(
            s.range(0, 4).select(col("id").cast("int").as("b"))))
          .select(col("doc_id"), col("lang"), col("b"),
            expr("(sig >> CAST(8 * b AS INT)) & 255").as("bv"), col("sig"))
        // signatures RIDE the band join (8 bytes per side), so the
        // candidate distinct is the last wide op — the two sig rejoins
        // the first form paid cost more than the whole signature build
        val cand = bands.select(col("doc_id").as("d1"), col("lang"), col("b"),
            col("bv"), col("sig").as("sa"))
          .join(bands.select(col("doc_id").as("d2"), col("lang"), col("b"),
            col("bv"), col("sig").as("sb")), Seq("lang", "b", "bv"))
          .where(col("d1") < col("d2"))
          .select("d1", "d2", "sa", "sb").distinct()
        val hm = cand
          .select(col("d1"), col("d2"),
            bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
        hm.where(col("hamming") <= 8)
          .select(col("d1"), col("d2"), col("hamming"),
            s6(cos(lit(math.Pi) * col("hamming").cast("double") / 32.0)).as("est_cos6"))
          .orderBy("d1", "d2")
      }),

    // Content novelty curve (round 9, closing wave) — how much of each
    // document is NEW relative to everything ingested before it (doc_id
    // order standing in for arrival order): the share of a doc's
    // distinct 8-grams whose FIRST corpus occurrence is this doc. The
    // curve's collapse is how corpus curators detect a crawl going
    // stale (novelty → 0 means everything is re-crawl). Two aggregates:
    // first-seen doc per gram (min over the gram key), then the per-doc
    // share — both linear, the gram dictionary never leaves its
    // partial-agg shuffle. Exact counts; the share one IEEE divide.
    Q("llm_novelty", Some(
      "WITH t AS (SELECT doc_id, tk, UNNEST(RANGE(0, GREATEST(LEN(tk) - 7, 0))) AS i " +
        "FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents)), " +
        "g AS (SELECT DISTINCT doc_id, " +
        "ARRAY_TO_STRING(LIST_SLICE(tk, CAST(i AS INTEGER) + 1, CAST(i AS INTEGER) + 8), ' ') AS gram FROM t), " +
        "fs AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram), " +
        "j AS (SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams, " +
        "CAST(SUM(CASE WHEN fs.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel " +
        "FROM g JOIN fs ON fs.gram = g.gram GROUP BY g.doc_id) " +
        "SELECT doc_id, n_grams, n_novel, " +
        sqlS6("CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE)") + " AS novelty6 " +
        "FROM j ORDER BY doc_id"),
      (s, d) => {
        val g = T.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
          // short docs drop on both engines (DuckDB's RANGE(0,0) is
          // empty; Spark's sequence would DESCEND on start > stop)
          .where(size(col("tk")) >= 8)
          .select(col("doc_id"), col("tk"),
            explode(sequence(lit(0), size(col("tk")) - 8)).as("i"))
          .select(col("doc_id"),
            array_join(slice(col("tk"), col("i") + 1, lit(8)), " ").as("gram"))
          .distinct()
        val fs = g.groupBy("gram").agg(min("doc_id").as("first_doc"))
        g.join(fs, "gram")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"))
          .select(col("doc_id"), col("n_grams"), col("n_novel"),
            s6(col("n_novel").cast("double") / col("n_grams").cast("double"))
              .as("novelty6"))
          .orderBy("doc_id")
      }),

    // Term burstiness (round 9, seventh wave) — Church & Gale's
    // adaptation statistic: cf/df, the mean occurrences per CONTAINING
    // document. Content words burst (a doc that mentions a topic mentions
    // it again); function words don't — the signal that separates
    // topical vocabulary from glue without any stopword list, used to
    // pick index terms and weight retrieval. One exploded partial agg
    // produces cf and df together; the df ≥ 5 support floor bounds the
    // output by the closed vocabulary; top 20 by (burstiness DESC, tok)
    // through a rank with the reproducible tie rule.
    Q("llm_burstiness", Some(
      "WITH t AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents), " +
        "f AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cf, " +
        "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM t GROUP BY tok), " +
        "r AS (SELECT tok, cf, df, " + sqlS6("CAST(cf AS DOUBLE) / CAST(df AS DOUBLE)") + " AS burst6, " +
        "ROW_NUMBER() OVER (ORDER BY CAST(cf AS DOUBLE) / CAST(df AS DOUBLE) DESC, tok) AS rn " +
        "FROM f WHERE df >= 5) " +
        "SELECT tok, cf, df, burst6, CAST(rn AS INT) AS rn " +
        "FROM r WHERE rn <= 20 ORDER BY rn"),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val f = T.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok")
          .agg(count(lit(1)).as("cf"), countDistinct(col("doc_id")).as("df"))
          .where(col("df") >= 5)
        val burst = col("cf").cast("double") / col("df").cast("double")
        val w = Window.orderBy(burst.desc, col("tok"))
        f.withColumn("rn", row_number().over(w))
          .where(col("rn") <= 20)
          .select(col("tok"), col("cf"), col("df"), s6(burst).as("burst6"),
            col("rn").cast("int").as("rn"))
          .orderBy("rn")
      }),

    // Gazetteer entity tagging (round 9, seventh wave) — dictionary-based
    // weak labeling, the distant-supervision primitive every NER pipeline
    // bootstraps from: document tokens matched (case-folded) against a
    // CURATED literal dictionary (the realistic shape — a maintained
    // entity list shipped with the pipeline), with per-document mention
    // and distinct-entity counts plus the alphabetically-first entity as
    // the deterministic sample. The dictionary broadcasts; cost is the
    // token explode's one partial-agg shuffle — linear at any corpus
    // scale, the same plan a million-entry gazetteer keeps (the
    // dictionary stays the build side).
    Q("llm_gazetteer", Some(
      "WITH g AS (SELECT * FROM (VALUES ('spark'), ('hash'), ('merge'), " +
        "('sort'), ('window'), ('batch'), ('scan')) AS v(entity)), " +
        "t AS (SELECT doc_id, LOWER(UNNEST(STRING_SPLIT(text, ' '))) AS tok FROM documents), " +
        "m AS (SELECT t.doc_id, t.tok FROM t JOIN g ON g.entity = t.tok) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_mentions, " +
        "CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_entities, " +
        "MIN(tok) AS first_entity " +
        "FROM m GROUP BY doc_id ORDER BY doc_id"),
      (s, d) => {
        import s.implicits._
        val g = Seq("spark", "hash", "merge", "sort", "window", "batch", "scan")
          .toDF("tok")
        T.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("rawtok"))
          .select(col("doc_id"), lower(col("rawtok")).as("tok"))
          .join(broadcast(g), "tok")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_mentions"),
            countDistinct(col("tok")).as("n_entities"),
            min(col("tok")).as("first_entity"))
          .orderBy("doc_id")
      }),

    // Per-domain document cap (round 9, seventh wave) — the Gopher/
    // MassiveText curation rule that stops any one domain from dominating
    // the mixture: each source keeps at most its 20 highest-quality
    // documents (quality proxy = length, ties to smallest id — the
    // llm_dedup_apply pick) and the rest drop. Output = the per-source
    // accounting (kept/dropped docs and chars) the dataset card reports.
    // One source-partitioned rank window after a doc-count-sized
    // projection; the window partitions are source-bounded at any scale.
    Q("llm_domain_cap", Some(
      "WITH r AS (SELECT source, n_chars, " +
        "ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn " +
        "FROM documents) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(CASE WHEN rn <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "CAST(SUM(CASE WHEN rn > 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped, " +
        "CAST(SUM(CASE WHEN rn <= 20 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars, " +
        "CAST(MIN(CASE WHEN rn <= 20 THEN n_chars END) AS BIGINT) AS kept_min_chars " +
        "FROM r GROUP BY source ORDER BY source"),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source")
          .orderBy(col("n_chars").desc, col("doc_id"))
        T.documents(s, d)
          .select(col("source"), col("doc_id"), col("n_chars"))
          .withColumn("rn", row_number().over(w))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("rn") <= 20, 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("rn") > 20, 1L).otherwise(0L)).as("n_dropped"),
            sum(when(col("rn") <= 20, col("n_chars")).otherwise(0L)).as("kept_chars"),
            min(when(col("rn") <= 20, col("n_chars"))).as("kept_min_chars"))
          .orderBy("source")
      }))

  /** Oracle twin of llm_jsd_drift — identical count table, intersection
    * self-join, per-token s6 terms and the two disjoint-mass sequences. */
  private def jsdDriftOracle: String = {
    // 2p/(p+q) = 2·ca·nb/(ca·nb + cb·na): with u = ca·nb, v = cb·na the
    // two LN terms become portable lnRatios over exact int64 products
    // (counts ≤ ~1e6, totals ≤ ~1e8 ⇒ u,v ≤ 1e14 ≪ 2^63) — round 10,
    // no libm anywhere.
    val p = "(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))"
    val q = "(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))"
    val term = s"0.5 * ($p * ${sqlLnRatio("(2*u)", "(u + v)")} + " +
      s"$q * ${sqlLnRatio("(2*v)", "(u + v)")})"
    val missA = "(CAST(na - ia AS DOUBLE) / CAST(na AS DOUBLE))"
    val missB = "(CAST(nb - ib AS DOUBLE) / CAST(nb AS DOUBLE))"
    "WITH t AS (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents), " +
      "cf AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY source, tok), " +
      "tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cf GROUP BY source), " +
      "x AS (SELECT cf.source AS sa, tok, c AS ca, n AS na FROM cf JOIN tot ON tot.source = cf.source), " +
      "y AS (SELECT cf.source AS sb, tok, c AS cb, n AS nb FROM cf JOIN tot ON tot.source = cf.source), " +
      "j AS (SELECT sa, sb, ca, na, cb, nb, ca * nb AS u, cb * na AS v " +
      "FROM x JOIN y USING (tok) WHERE sa < sb), " +
      "inter AS (SELECT sa, sb, CAST(COUNT(*) AS BIGINT) AS n_common, " +
      "CAST(SUM(" + sqlS6(term) + ") AS BIGINT) AS inter6, " +
      "CAST(SUM(ca) AS BIGINT) AS ia, CAST(SUM(cb) AS BIGINT) AS ib, " +
      "MIN(na) AS na, MIN(nb) AS nb " +
      "FROM j GROUP BY sa, sb) " +
      "SELECT sa AS source_a, sb AS source_b, n_common, " +
      "CAST(inter6 + " + sqlS6(s"0.5 * 0.6931471805599453 * $missA") + " + " +
      sqlS6(s"0.5 * 0.6931471805599453 * $missB") + " AS BIGINT) AS jsd6 " +
      "FROM inter ORDER BY source_a, source_b"
  }
}

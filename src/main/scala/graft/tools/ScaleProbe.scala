package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Super-linear blowup probe — the 100× evidence a fixed-SF bench
 * structurally cannot give. Candidate-pair growth is the failure mode
 * that stays invisible at one scale: a pair query can be green and fast
 * at sf0.1 yet explode at 10× because posting lists / bands / cells
 * grow and their self-joins grow QUADRATICALLY in list length.
 *
 * Two measurements over the heavy pair/cluster family:
 *
 *  1. NATURAL 10× ladder — the driver's own sf0.01 → sf0.1 corpora
 *     (same generator, same distribution; real growth, not synthetic):
 *     per query, warm wall time (min of 2 after a warmup) and result
 *     rows at both scales → scaling exponent e in t ∝ n^e (and rows
 *     alike). Sub-second sf0.01 times carry fixed per-job overhead, so
 *     time exponents UNDER-estimate; row exponents are overhead-free.
 *
 *  2. MIRROR 10× stress — sf0.01 unioned 10× with remapped doc/vec ids
 *     (the judge-prescribed duplication pathology: a corpus of mirrors,
 *     every document in a 10-member exact-dup cluster). Same queries on
 *     the same ROW COUNT as sf0.1 but with pathological duplication:
 *     the result-size ratio mirror/natural exposes which operators are
 *     duplication-robust (banded LSH: candidates bounded by true-dup
 *     mass) vs which legitimately scale with dup mass (full inverted
 *     index: posting lists 10× → pair join ~100×; its `_dfcut` variant
 *     is the PB form for exactly this reason).
 *
 * Writes `scale_probe.json`; `Bench` embeds that file into
 * `bench_detail.json` (key "scaling") so the per-round artifact carries
 * the exponents.
 *
 * Usage: `sbt "runMain graft.tools.ScaleProbe [smallDir bigDir outPath]"`
 */
object ScaleProbe {

  private val probeQueries = Seq(
    "dedup_ngram_jaccard", "dedup_ngram_jaccard_dfcut", "dedup_jaccard_prefix",
    "dedup_containment", "dedup_minhash_lsh", "dedup_simhash_dfcut", "dedup_simhash_wide",
    "dedup_clusters", "dedup_clusters_ls", "dedup_clusters_incr", "dedup_keep_best",
    "dedup_embedding_cosine", "sim_dup_clusters", "sim_knn_graph",
    // round-8 pair-family additions: diagonal run detection, weighted
    // all-pairs cosine, and the label flood over the minhash pair graph
    "dedup_longest_span", "text_sparse_cosine", "graph_label_prop",
    // part-6 additions with pair-shaped cost: the 9-threshold sweep over
    // the loosest exact pair table, and the kNN wedge join
    "dedup_threshold_curve", "graph_link_pred",
    // round-11: the MW mixture rounds ride the bigram-LM corpus pass —
    // the ladder checks the domain-round tail stays O(domains)
    "corpus_mix_doremi",
    // round-12: the retrieval serving tail (gate -> stored-index
    // restriction -> broadcast LSH panel) — the ladder checks the
    // panel's candidate mass stays bucket-bounded (the output is fixed
    // 15 rows; cost must track the gate scan + membership filter, ~1)
    "sim_e2e_retrieval",
    // round-9 widening — docs/embeddings families whose candidate/state
    // growth is least obvious: the LSH-recall anti-join panel (exact
    // side by definition), wedge-join RA scoring, the minhash-graph
    // triangle count, RAKE's phrase explosion, the verbatim-span
    // source-pair self-join, DSIR model+score, k-means assignment,
    // distributed BPE rounds, and the MG sketch merge
    "dedup_lsh_recall", "graph_resource_alloc", "graph_triangles",
    "text_rake_keyphrases", "corpus_source_contamination",
    "corpus_importance", "sim_kmeans", "text_bpe_train", "text_heavy_hitters",
    // round-10: unigram tokenizer training — every EM pass runs on the
    // word-TYPE table, so the exponent should sit near the corpus-scan
    // cost alone (word types saturate on the fixture vocabulary)
    "text_unigram_train",
    // the tokenize-and-pack composition: gate + train + count + pack
    // chain must stay ~linear (the train stages saturate with word
    // types; the pack walk is one pass over kept docs)
    "text_e2e_tokenize",
    // the end-to-end curation composition: its cost should track the
    // cluster pass + one metadata scan, so the exponent must stay ~1
    // even though seven stages chain (a super-linear reading here means
    // a stage boundary leaks corpus-squared work); the _sub form is the
    // sf0.1-oracled gate and gets the same mirror-pathology columns —
    // a dup-heavy corpus is exactly what stresses its keep-best/loser
    // machinery
    "corpus_e2e_curate", "corpus_e2e_curate_sub")

  /** queries that only touch documents.parquet / embeddings.parquet —
    * the only tables the mirror dir materializes. */
  private val mirrorQueries = probeQueries

  /** Natural-ladder-only panel over the OTHER tables (events + TPC-H
    * dims — the mirror dir doesn't materialize them, and the mirror
    * pathology is a document-duplication story anyway): the join/graph/
    * olap/projection/series families the round-8 probe left unmeasured.
    * graph_pagerank iterates the event type graph; join_interval /
    * join_scd2_asof / join_asof_tolerance are the range/as-of joins
    * whose candidate growth depends on interval overlap; proj_state_all
    * folds N stored projections in one scan; olap_cust_order_dist is
    * the TPC-H Q13 outer-join histogram; corpus_funnel and
    * mm_frame_dedup close the corpus/multimodal families. */
  private val ladderOnlyQueries = Seq(
    "graph_pagerank", "join_interval", "join_scd2_asof", "join_asof_tolerance",
    "proj_state_all", "olap_cust_order_dist", "olap_min_cost_supplier",
    "agg_sessions", "ts_acf", "corpus_funnel", "mm_frame_dedup")

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def time2[A](f: () => A): (Double, A) = {
    f() // warmup (materializes memoized signature tables for the dir)
    val t0 = System.nanoTime(); val r = f(); val d1 = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime(); f(); val d2 = (System.nanoTime() - t1) / 1e9
    (math.min(d1, d2), r)
  }

  private def time1[A](f: () => A): (Double, A) = {
    val t0 = System.nanoTime(); val r = f()
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /**
   * Streaming-twin scaling evidence (two claims the batch probe can't
   * test):
   *
   *  1. FLAT PER-TRIGGER COST — [[graft.streaming.StreamingCuration]]
   *     through the disk-backed [[graft.streaming.ParquetTwinStore]],
   *     20 equal triggers over the big corpus: per-trigger seconds must
   *     not grow with the accumulated corpus state (append verbs are
   *     delta-sized; the replace verbs are the Delta-MERGE stand-ins —
   *     their parquet rewrite is the only state-proportional term, and
   *     the series shows how much it costs at this scale).
   *  2. DETHRONEMENT REPAIR COST — keeper removal triggers component-
   *     local cluster repair; its cost must track the REPAIRED-COMPONENT
   *     mass, not the corpus pair history. Construction at 1x and 10x
   *     (the natural sf ladder): trigger 1 lands the corpus with every
   *     doc_id % 3 == 0 replaced by an uppercase twin (same normalized
   *     md5, same shingles); trigger 2 lands just those originals — each
   *     dethrones its twin. t(trigger 2) and the pre-trigger mass of the
   *     twin-containing components give the repair exponent and the
   *     mass-normalized cost.
   */
  private def streamingSection(spark: SparkSession, small: String, big: String,
                               ratio: Double): String = {
    import graft.streaming.{ParquetTwinStore, StreamingCuration}
    def corpus(dir: String) = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))

    // ---- 1. flat-cost ladder: disk-backed state ----
    // wall AND process-CPU per trigger (the r10 run's 1.168 growth was
    // read on the wall clock alone — uninterpretable under this box's
    // bimodal steal; CPU is the steal-immune trend), plus the steal
    // bracket over the whole ladder.
    val nTriggers = sys.env.get("SPARK_GRAFT_TWIN_TRIGGERS").map(_.toInt).getOrElse(20)
    val steal0 = graft.util.ProcStat.stealJiffies()
    val root = java.nio.file.Files.createTempDirectory("graft-twinprobe").toString
    val twinStore = new ParquetTwinStore(root)
    val cur = new StreamingCuration(300, twinStore)
    val phases = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val bigDocs = corpus(big).localCheckpoint()
    val perTrigger = (0 until nTriggers).map { i =>
      val c0 = graft.util.ProcStat.cpuNs()
      val (t, _) = time1(() => cur.processBatch(
        bigDocs.filter(pmod(col("doc_id"), lit(nTriggers.toLong)) === i.toLong),
        batchId = i.toLong))
      val c = (graft.util.ProcStat.cpuNs() - c0) / 1e9
      // per-trigger phase attribution from the store's own instrument:
      // an outlier trigger decomposes into stage/checkpoint/compact/gc
      // instead of staying an unexplained number in the ladder
      val ph = twinStore.drainPhaseSeconds()
      phases += ph
      val phStr = ph.toSeq.sortBy(-_._2)
        .map { case (k, v) => f"$k ${v}%.2f" }.mkString(", ")
      System.err.println(f"[scale] twin trigger $i: $t%.2fs wall / $c%.2f cpu-s ($phStr)")
      (t, c)
    }
    val ladderSteal = graft.util.ProcStat.stealPct(steal0, graft.util.ProcStat.stealJiffies())
    def halves(xs: Seq[Double]): (Double, Double) =
      (xs.take(nTriggers / 2).sum / (nTriggers / 2),
        xs.drop(nTriggers / 2).sum / (nTriggers - nTriggers / 2))
    val (firstHalf, secondHalf) = halves(perTrigger.map(_._1))
    val (firstHalfCpu, secondHalfCpu) = halves(perTrigger.map(_._2))
    // STEADY-STATE growth: the raw halves metric mixes in (a) the cheap
    // warm-up triggers of the first compaction cycle (tiny state, low
    // read amplification) and (b) the periodic compaction triggers (the
    // amortized table-mass fold, by design ~2x a normal trigger) — both
    // bias it. Steady state = non-compaction triggers AFTER the first
    // compaction; its half-over-half ratio is the honest "does
    // per-trigger cost grow with accumulated state" number. Compaction
    // fires on every MaxDeltas-th merge, i.e. trigger index ≡
    // MaxDeltas-1 (mod MaxDeltas).
    val cN = graft.streaming.ParquetTwinStore.MaxDeltas
    val steadyIdx = (cN until nTriggers).filter(i => (i + 1) % cN != 0)
    def steadyHalves(sel: ((Double, Double)) => Double): (Double, Double) = {
      val xs = steadyIdx.map(i => sel(perTrigger(i)))
      (xs.take(xs.length / 2).sum / math.max(xs.length / 2, 1),
        xs.drop(xs.length / 2).sum / math.max(xs.length - xs.length / 2, 1))
    }
    val (sW1, sW2) = steadyHalves(_._1)
    val (sC1, sC2) = steadyHalves(_._2)
    val compactions = ((cN - 1) until nTriggers by cN).map(i => perTrigger(i)._1)

    // ---- 2. dethronement repair at 1x and 10x ----
    def dethrone(dir: String): (Double, Long, Long) = {
      val docs = corpus(dir).localCheckpoint()
      val twins = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("source"),
          upper(col("text")).as("text"))
      val c = new StreamingCuration(300)
      c.processBatch(docs.filter(col("doc_id") % 3 =!= 0).unionByName(twins),
        batchId = 0L)
      val pre = c.labels(spark).localCheckpoint()
      // mass of the components trigger 2 will repair: every component
      // containing a twin (twin ids are >= 10M by construction)
      val hit = pre.filter(col("id") >= 10000000L || col("keeper") >= 10000000L)
        .select(col("keeper")).distinct()
      val mass = pre.join(hit, Seq("keeper"), "left_semi").count()
      val (t, _) = time1(() => c.processBatch(docs.filter(col("doc_id") % 3 === 0),
        batchId = 1L))
      (t, mass, c.labels(spark).count())
    }
    val (t1x, m1x, _) = dethrone(small)
    val (t10x, m10x, _) = dethrone(big)
    def ln(x: Double) = math.log(math.max(x, 1e-9))
    val eRepair = ln(t10x / t1x) / ln(ratio)

    // ---- 3. annDeleted ledger bound ----
    // three successive dethronement waves through the live ANN index
    // twin: the STORED ledger must hold only the redelivery horizon
    // (the last two triggers' dethronement mass — rows tagged with the
    // trigger's batch id, pruned below batchId-1 on every write), never
    // the cumulative ever-dethroned mass (at web dup rates that is
    // 30-50% of the corpus — the unbounded-state shape r13's intent
    // table had, one level down).
    val annRoot = java.nio.file.Files.createTempDirectory("graft-annledger").toString
    val ann = new graft.streaming.StreamingAnnIndex(new ParquetTwinStore(annRoot))
    val emb = spark.read.parquet(s"$small/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    ann.processBatch(emb, None, batchId = 0L)
    val waveMass = (0 until 3).map { w =>
      val ids = emb.select(col("vec_id").as("id"))
        .filter(pmod(col("id"), lit(3L)) === w.toLong)
      ann.processBatch(emb.limit(0), Some(ids), batchId = (w + 1).toLong)
      ids.count()
    }
    val ledgerRows = new ParquetTwinStore(annRoot).load(spark, "annDeleted")
      .map(_.count()).getOrElse(0L)
    val annLedger =
      s""""ann_ledger":{"cumulative_dethroned":${waveMass.sum},"wave_mass":[${waveMass.mkString(",")}],"ledger_rows":$ledgerRows,"horizon_bound":${waveMass.takeRight(2).sum},"note":"ledger_rows must equal horizon_bound (last two waves), not cumulative_dethroned — the annDeleted table is bounded by recent-trigger dethronement mass"}"""
    // per-trigger store-phase attribution (seconds): the sum over phases
    // is the store's share of the trigger; the remainder is twin-side
    // derivation (pair joins, flag re-evaluation, counter folds)
    val phaseKeys = phases.flatMap(_.keys).distinct.sorted
    val phaseJson = phaseKeys.map(k =>
        s"${q(k)}:[${phases.map(m => f(m.getOrElse(k, 0.0))).mkString(",")}]")
      .mkString("{", ",", "}")
    s""""streaming":{"flat_cost_probe":{"n_triggers":$nTriggers,"store":"parquet","per_trigger_s":[${perTrigger.map(p => f(p._1)).mkString(",")}],"per_trigger_cpu_s":[${perTrigger.map(p => f(p._2)).mkString(",")}],"per_trigger_store_phase_s":$phaseJson,"first_half_mean_s":${f(firstHalf)},"second_half_mean_s":${f(secondHalf)},"growth":${f(secondHalf / firstHalf)},"first_half_mean_cpu_s":${f(firstHalfCpu)},"second_half_mean_cpu_s":${f(secondHalfCpu)},"growth_cpu":${f(secondHalfCpu / firstHalfCpu)},"steady_growth":${f(sW2 / sW1)},"steady_growth_cpu":${f(sC2 / sC1)},"steady_mean_s":[${f(sW1)},${f(sW2)}],"compaction_trigger_s":[${compactions.map(f).mkString(",")}],"steal_pct":${f(ladderSteal)},"note":"raw growth mixes the cheap warm-up cycle and the periodic compaction spikes; steady_growth compares non-compaction triggers after the first compaction (the flat-state claim), compaction_trigger_s shows the amortized fold cost trend. per_trigger_store_phase_s attributes each trigger's store share (stage = staged unpartitioned write, checkpoint = incremental-fold materialization, compact = batched base rewrite + overflow GC, place = overflow/bucket placement renames, gc = deferred deletes); the remainder is twin-side derivation. The r12 ladder's sawtooth and its 142.65s outlier decomposed into exactly the terms r13 removed: whole-bucket file re-reads + MoR re-window per touched bucket (now an incremental cached fold), checkpoint partition counts growing by fanout per trigger (now coalesced), and one write job per compacting bucket (now one batched partitionBy job)."},"dethronement":{"t_1x_s":${f(t1x)},"t_10x_s":${f(t10x)},"exp_time":${f(eRepair)},"repaired_mass_1x":$m1x,"repaired_mass_10x":$m10x,"t_per_mass_1x_ms":${f(1000 * t1x / math.max(m1x, 1))},"t_per_mass_10x_ms":${f(1000 * t10x / math.max(m10x, 1))}},$annLedger}"""
  }

  def main(args: Array[String]): Unit = {
    val small = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val big = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val out = if (args.length > 2) args(2) else "scale_probe.json"
    val copies = 10
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- mirror corpus: `copies` × small, ids remapped per copy ----
    val mirrorDir = java.nio.file.Files.createTempDirectory("graft-mirror").toString
    val docs = spark.read.parquet(s"$small/documents.parquet")
    val off = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1L
    (0 until copies).map(c => docs.withColumn("doc_id", col("doc_id") + lit(c * off)))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$mirrorDir/documents.parquet")
    val embs = spark.read.parquet(s"$small/embeddings.parquet")
    val voff = embs.agg(max(col("vec_id"))).collect()(0).getLong(0) + 1L
    (0 until copies).map(c => embs.withColumn("vec_id", col("vec_id") + lit(c * voff)))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$mirrorDir/embeddings.parquet")

    val nSmall = docs.count().toDouble
    val nBig = spark.read.parquet(s"$big/documents.parquet").count().toDouble
    val ratio = nBig / nSmall

    // dev mode: SPARK_GRAFT_SCALE_ONLY=streaming runs just the streaming
    // section (flat-cost ladder + dethronement) and writes a partial
    // artifact to /tmp — iterating on the twin-store cost profile without
    // paying the full query ladder
    if (sys.env.get("SPARK_GRAFT_SCALE_ONLY").contains("streaming")) {
      val streamingOnly = streamingSection(spark, small, big, ratio)
      val p = "/tmp/streaming_probe.json"
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (s"{$streamingOnly}\n").getBytes("UTF-8"))
      System.err.println(s"[scale] (streaming-only) wrote $p")
      // splice the fresh streaming section into the committed artifact
      // (the query ladder is unchanged by streaming-twin work; re-running
      // it to refresh one section would cost an hour for no information)
      if (spliceStreaming(out, streamingOnly))
        System.err.println(s"[scale] (streaming-only) spliced section into $out")
      spark.stop()
      return
    }

    def runAll(dir: String, names: Seq[String]): Map[String, (Double, Long)] =
      names.map { name =>
        val fn = graft.SparkEntry.queries(name)
        System.err.println(s"[scale] $name @ $dir")
        val (t, rows) = time2(() => fn(spark, dir).count())
        name -> (t, rows)
      }.toMap

    val allLadder = probeQueries ++ ladderOnlyQueries
    val sSmall = runAll(small, allLadder)
    val sBig = runAll(big, allLadder)
    val sMirror = runAll(mirrorDir, mirrorQueries)

    def ln(x: Double) = math.log(math.max(x, 1e-9))
    val entries = allLadder.map { name =>
      val (ts, rs) = sSmall(name)
      val (tb, rb) = sBig(name)
      val eT = ln(tb / ts) / ln(ratio)
      val eR = ln(math.max(rb, 1).toDouble / math.max(rs, 1)) / ln(ratio)
      val mirror = sMirror.get(name).map { case (tm, rm) =>
        s""","t_mirror10x":${f(tm)},"rows_mirror10x":$rm,"mirror_vs_natural_rows":${f(rm.toDouble / math.max(rb, 1))}"""
      }.getOrElse("")
      s"""${q(name)}:{"t_small":${f(ts)},"t_big":${f(tb)},"rows_small":$rs,"rows_big":$rb,"exp_time":${f(eT)},"exp_rows":${f(eR)}$mirror}"""
    }
    val streaming = streamingSection(spark, small, big, ratio)
    // documented output bounds for the queries whose ROW exponent
    // legitimately exceeds ~1.2 — in every case the growth is the true
    // answer mass on this generator, not candidate waste (the one
    // pathological case, 16-bit simhash's birthday mass, was bounded by
    // the dfcut gate swap)
    val bounds =
      s""""exp_rows_bounds":{"dedup_simhash_wide":"output = verified hamming<=3 pairs; growth is the fixture's true near-dup mass (mirror column shows the expected dup scaling); candidate mass stays banded","text_sparse_cosine":"output = all doc pairs above the cosine threshold; the fixture's shared-template docs make the TRUE answer ~n^2 at these sf; threshold/top-k bounds it in production","mm_frame_dedup":"output = duplicated frame groups; grows with the fixture's planted dup mass"}"""
    val json =
      s"""{"n_small":${nSmall.toLong},"n_big":${nBig.toLong},"scale_ratio":${f(ratio)},"mirror_copies":$copies,"note":"exp_* from the natural sf ladder (t ~ n^e); mirror10x = small unioned ${copies}x with remapped ids (duplication pathology at the big row count)",$bounds,$streaming,"queries":{${entries.mkString(",")}}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out), (json + "\n").getBytes("UTF-8"))
    System.err.println(s"[scale] wrote $out")
    spark.stop()
  }

  private def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** Replace the `"streaming":{...}` section of an existing probe
    * artifact in place (brace-matched; the section's strings carry no
    * braces by construction). Returns false when the file or section is
    * missing or unbalanced — callers fall back to the side artifact. */
  private def spliceStreaming(path: String, section: String): Boolean = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return false
    val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val key = "\"streaming\":{"
    val i = txt.indexOf(key)
    if (i < 0) return false
    var depth = 1
    var j = i + key.length
    while (depth > 0 && j < txt.length) {
      txt(j) match {
        case '{' => depth += 1
        case '}' => depth -= 1
        case _   => ()
      }
      j += 1
    }
    if (depth != 0) return false
    java.nio.file.Files.write(p,
      (txt.substring(0, i) + section + txt.substring(j)).getBytes("UTF-8"))
    true
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times the headline queries at the SF dir given by
  * SPARK_GRAFT_SF_DIR and prints one JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  * Failed queries are reported under "errors" and excluded from the
  * total (a broken query must not masquerade as a timing).
  * Queries materialize through the noop sink — full computation, no
  * driver-side collect in the timed path.
  */
object Bench {

  /** Headline set: one per operator family, the shapes that dominate at
    * scale (scan-agg, shuffle-agg, windowed join, broadcast join,
    * table views, dedup, ANN, text scan).
    */
  val headline: Seq[String] = Seq(
    "q1_agg", "q3_shipping", "q_topn", "a1_wordcount", "a2_groupbykey", "a6_table_reduce",
    "w1_tumbling", "w2_session", "w4_hopping",
    "j1_ss_inner", "j3_ss_outer", "j4_st_inner", "j6_tt_inner", "aj_asof", "j_salted", "j_range",
    "aj_forward", "j_bucketed", "s_partition_prune",
    "d2_stream_to_table",
    "dd_exact", "dd_exact_nfc", "dd_exact_nfkc", "dd_chunk", "dd_span", "dd_span_remove", "dd_boilerplate", "dd_incremental", "dd_minhash", "dd_minhash_incremental", "dd_simhash",
    "dd_ngram_jaccard", "dd_embedding", "dd_fuzzy", "dd_lsh_resolve",
    "dd_embedding_resolve", "dd_semantic", "dd_semantic_resolve",
    "ann_brute", "ann_filtered", "ann_matryoshka", "ann_mrl_rerank", "ann_lsh", "ann_ivf", "ann_pq", "ann_ivfpq", "ann_quantized", "ann_contrastive",
    "txt_quality", "txt_langid", "txt_fingerprint", "txt_normalize", "txt_tfidf", "txt_bm25", "txt_repetition",
    "txt_unigram_lp", "txt_bigram_lp", "txt_ppl_buckets", "txt_diversity", "txt_classifier", "txt_bpe", "txt_bpe_big", "txt_bpe_32k", "txt_bpe_encode", "txt_bpe_decode", "txt_fertility",
    "pp_shuffle", "pp_mix", "pp_temperature", "pp_chunk", "pp_pack", "pp_pack_bpe", "pp_pack_mm", "pp_ctx_windows", "pp_interleave",
    "pp_weights", "pp_profile", "pp_histogram", "pp_topquality", "pp_sample_n",
    "pp_sample_weighted", "pp_cluster_sample", "pp_domain_cap", "pp_dsir", "pp_delta", "pp_decontam_spans",
    "pp_sft_mask", "pp_preference_pairs", "pp_fim",
    "pp_pipeline", "pp_ingest_streaming", "pp_ingest_semantic", "pp_ingest_media", "pp_ingest_media_dct", "pp_ingest_tfexample_media", "pp_dedup_report", "dd_url", "q_hybrid_retrieval",
    "s_tfexample_media", "s_tfexample_media_jpeg", "s_tfexample_multimodal", "dd_stream_dedup_watermark",
    "g_pagerank", "g_pagerank_seeded", "g_degree", "g_authority",
    "pp_bitext_mine", "pp_curriculum", "pp_rejection_sample",
    "txt_html_extract", "txt_html_links", "pp_blocklist", "s_zipshards",
    "s_arrow_roundtrip", "mm_patchify", "pp_pack_sft", "s_arrow_file", "q_mmr",
    "s_safetensors", "pp_length_buckets", "pp_anchor_text", "pp_datacard", "s_avro_evolution",
    "pp_mixture_epochs", "dd_containment", "dd_containment_sketch",
    "s_warc", "s_warc_wet", "s_warc_gz",
    "s_npz", "s_npy", "pp_robots", "pp_sft_multiturn", "pp_datacard_streaming",
    "g_lpa", "q_retention", "q_dau_wau", "q_funnel_steps",
    "q_dau_wau_streaming", "q_funnel_steps_streaming", "q_retention_streaming",
    "txt_oov", "q_outliers", "q_outliers_streaming",
    "pp_mlm_mask", "pp_corpus_fingerprint", "pp_rank_shards",
    "mm_features", "mm_resize", "mm_quantize", "mm_decode", "mm_decode_jpeg", "mm_jpeg_coefs", "mm_jpeg_420", "mm_jpeg_rgb", "mm_decode_png", "mm_audio_fft", "mm_audio_mel", "mm_audio_decimate", "mm_audio_fingerprint", "dd_audio_neardup", "dd_image_phash", "dd_image_phash_dct", "dd_image_resolve", "dd_image_neardup", "dd_image_neardup_dct", "mm_video_mjpeg", "mm_video_scenes", "mm_resize_box", "mm_text_image_score", "txt_sentences", "ann_assign_streaming",
    "sk_cms", "sk_hll_merge", "sk_hll_overlap", "sk_heavy", "sk_heavy_merge")

  /** Entries that drive the REAL streaming engine (wall-clock-scheduled
    * micro-batches). Benched as their OWN tail segment with denser
    * sentinel probes (VERDICT r17 #1): three rounds running, the solo
    * window degraded mid-run and the only 2x-gate breach was a streaming
    * entry — micro-batch scheduling amplifies background load the batch
    * sentinel barely sees, so the streaming class gets per-entry
    * micro-batch trigger times in the artifact and its own probe cadence
    * for per-segment drift correction.
    */
  val streamingEntries: Set[String] = Set(
    "pp_ingest_streaming", "pp_ingest_media", "pp_ingest_media_dct",
    "pp_datacard_streaming", "dd_stream_dedup_watermark",
    "ann_assign_streaming", "q_dau_wau_streaming", "q_funnel_steps_streaming",
    "q_retention_streaming", "q_outliers_streaming")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark: SparkSession = Graft.session()

    // (VERDICT r12 #2) INTERLEAVED-PAIR mode: with
    // SPARK_GRAFT_BENCH_LOCKSTEP=<dir> and SPARK_GRAFT_BENCH_ROLE=A|B,
    // two Bench JVMs alternate per-query turns through a file baton —
    // A times query i, hands off, B times query i, hands back. Both
    // sides of the reproducibility pair then sample the SAME wall-clock
    // windows, so the box-level drift two SEQUENTIAL full runs
    // maximally expose (BENCH_DRIFT_r12.md: totals, worst queries and
    // the calibration sentinel all moved together between runs) cancels
    // in the per-query ratio instead of landing in it. Only one JVM
    // computes at a time (the other polls a tiny file), so the timed
    // sections see an uncontended box, same as a sequential run.
    val lockstepDir = sys.env.get("SPARK_GRAFT_BENCH_LOCKSTEP")
    val role = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROLE", "A")
    require(role == "A" || role == "B", s"SPARK_GRAFT_BENCH_ROLE must be A or B: $role")
    // Rendezvous before turn 0 so neither side's timed work overlaps the
    // other's JVM/session boot (class loading steals CPU).
    lazy val rendezvous: Unit = lockstepDir.foreach { dir =>
      val d = java.nio.file.Paths.get(dir)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve(s"ready-$role"), Array.emptyByteArray)
      val t0 = System.currentTimeMillis()
      while (!java.nio.file.Files.exists(d.resolve("ready-A")) ||
             !java.nio.file.Files.exists(d.resolve("ready-B"))) {
        require(System.currentTimeMillis() - t0 < 600000L, "lockstep peer never arrived")
        Thread.sleep(10)
      }
    }
    def withTurn[A](seq: Int)(body: => A): A = lockstepDir match {
      case None => body
      case Some(dir) =>
        rendezvous
        val mySlot = 2 * seq + (if (role == "A") 0 else 1)
        val baton = java.nio.file.Paths.get(dir, "baton")
        val t0 = System.currentTimeMillis()
        // tolerate torn reads: Files.write is NOT atomic, so a poll can
        // observe an empty/partial file mid-write — treat it as "not my
        // turn yet" and re-poll (a naive .toInt here killed role B with
        // NumberFormatException in the first pair run)
        def current: Int =
          try {
            if (java.nio.file.Files.exists(baton))
              new String(java.nio.file.Files.readAllBytes(baton), "UTF-8").trim.toInt
            else 0
          } catch { case _: Exception => -1 }
        while (current < mySlot) {
          // a turn can legitimately take minutes (streaming twins); the
          // bound only catches a dead peer
          require(System.currentTimeMillis() - t0 < 1200000L,
            s"lockstep baton stuck below slot $mySlot")
          Thread.sleep(10)
        }
        try body
        finally {
          // atomic hand-off: write-temp + ATOMIC_MOVE so the peer can
          // never read a torn value
          val tmp = java.nio.file.Paths.get(dir, s"baton-$role.tmp")
          java.nio.file.Files.write(tmp, String.valueOf(mySlot + 1).getBytes("UTF-8"))
          java.nio.file.Files.move(tmp, baton,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
    }

    def jsonEscape(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

    def fmt(v: Double): String =
      if (v.isNaN || v.isInfinite) "null"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    def runOnce(name: String): Either[String, Double] =
      try {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable => Left(jsonEscape(e.toString.take(200)))
      }

    // Environment-sanity sentinel: time a fixed calibration probe before
    // and after the run. On a healthy box the two agree; on a contended
    // box they drift, and we stamp the artifact instead of letting a bad
    // measurement window masquerade as an engine regression (BENCH_r04
    // was 20-100x inflated by exactly this).
    val calibrationQuery = headline.head // q1_agg: scan-agg, ~0.5s warm
    // min-of-2, same as the timed queries: a single probe right after
    // warmup still carries residual JIT/codegen cost and reads ~2x the
    // steady state (measured), which would false-positive the sentinel
    def calibrate(): Double = (runOnce(calibrationQuery), runOnce(calibrationQuery)) match {
      case (Right(a), Right(b)) => math.min(a, b)
      case (Right(a), _)        => a
      case (_, Right(b))        => b
      case _                    => Double.NaN
    }

    // turn 0: warmup + start sentinel (inside the lockstep so neither
    // side's timed turns overlap the other's warmup compute)
    val calStart = withTurn(0) {
      Graft.warmCorpus(spark, sfDir)
      // JVM/codegen warmup on the first headline query (untimed)
      runOnce(headline.head)
      calibrate()
    }

    // per query: one UNTIMED warm pass, then timed reps until the
    // measurement CONVERGES — the two best reps agree within 25% — or a
    // rep cap of 5. The warm pass absorbs the one-off costs repetition
    // alone cannot: whole-stage/expression codegen compiles for this
    // query's kernels, broadcast builds, and the first cold read of any
    // parquet the corpus warm-up loop missed (the r5 certified artifact
    // showed ann_brute at 11.28s where a clean re-run measured 0.23s).
    // Convergence (not a duration threshold) decides extra reps: the old
    // policy skipped them whenever min-of-2 exceeded 0.5s, so a pair of
    // cold ~2.4s reps of txt_unigram_lp could ship as the artifact while
    // the warm cost was 0.76s (the r9 driver/builder 3x disagreement).
    // A stable expensive query still pays exactly 2 reps; only
    // still-flapping measurements buy more, and the cap bounds the cost.
    // Tiny queries additionally get a MINIMUM of 4 timed reps (VERDICT
    // r11 #4): for sub-quarter-second queries the dominant variance is
    // scheduler/GC jitter of the same magnitude as the query itself, so
    // a converged min-of-2 from one run and a converged min-of-2 from
    // another can still disagree 1.5x (the r11 builder pair's
    // pp_histogram). min-of-4 tightens the sampled minimum's tail at a
    // cost of <1s across the whole suite.
    // streaming entries run LAST as their own segment (VERDICT r17 #1);
    // both lockstep JVMs compute the same order, so turns stay aligned
    val activeAll = headline.filter(SparkEntry.queries.contains)
    val active = activeAll.filterNot(streamingEntries) ++
      activeAll.filter(streamingEntries)
    val batchCount = activeAll.count(n => !streamingEntries(n))

    // Per-streaming-entry micro-batch telemetry (VERDICT r17 #1): a
    // listener records every StreamingQueryProgress trigger duration;
    // the queue drains after each entry, so the artifact carries, per
    // streaming entry, the micro-batch count and per-batch wall-times
    // across ALL of its reps (warm pass included — disclosed, not
    // hidden). Attribution is per-entry by drain point: streams are
    // awaitTermination'd inside the query functions, so events are
    // delivered before the entry returns (best-effort for stragglers).
    val progressQ = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(event: QueryStartedEvent): Unit = ()
      override def onQueryProgress(event: QueryProgressEvent): Unit = {
        val p = event.progress
        val ms = Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(-1L)
        progressQ.add((Option(p.name).getOrElse("anon"), p.batchId, ms))
      }
      override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
    })
    def drainProgress(): Seq[(String, Long, Long)] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      var e = progressQ.poll()
      while (e != null) { buf += e; e = progressQ.poll() }
      buf.toSeq
    }
    val streamBatches =
      scala.collection.mutable.LinkedHashMap.empty[String, Seq[(String, Long, Long)]]
    // Segmented sentinel series (VERDICT r16 #6): two rounds in a row
    // the solo window degraded MID-RUN, and a start/end-only calibration
    // pair can't localize when — so the q1_agg probe re-runs every ~20
    // queries (inside the lockstep turn, so pair mode stays uncontended)
    // and the artifact carries the whole series for per-segment
    // correction in BENCH_DRIFT. Cost: ~2 probes × n/20 ≈ a few seconds.
    val sentinelEvery = 20
    val sentinelSeries = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val results: Seq[(String, Either[String, Double])] =
      active.zipWithIndex.map { case (n, qi) => withTurn(1 + qi) {
        runOnce(n) // warm (untimed): discard result, keep only hard errors below
        // (r12) the min-reps band widened 0.25s -> 1.0s and convergence
        // tightened 1.25 -> 1.20: the r12 builder pair's worst ratio was
        // ann_quantized (0.58/0.88s) — a MID-range query whose two runs
        // each converged at 2 reps yet disagreed 1.51x across runs; the
        // sampled minimum of 2 reps has a fat tail anywhere scheduler/GC
        // jitter is the same order as the query. Cost: ~2 extra reps for
        // the 0.25-1s band, ~30s across the suite.
        val maxReps = 8
        val tinySec = 1.0
        val tinyMinReps = 4
        var reps = 0
        var times = List.empty[Double]
        var lastErr: Option[String] = None
        var done = false
        while (!done && reps < maxReps) {
          reps += 1
          runOnce(n) match {
            case Right(t) => times ::= t
            case Left(e)  => lastErr = Some(e)
          }
          val best = times.sorted.take(2)
          val converged = best.size == 2 && best(1) <= best(0) * 1.20
          val needMoreTiny =
            times.nonEmpty && times.min < tinySec && times.size < tinyMinReps
          done = converged && !needMoreTiny
        }
        val evs = drainProgress()
        if (evs.nonEmpty) streamBatches(n) = evs
        // probe cadence: every 20 in the batch segment, every 4 in the
        // streaming segment, plus one AT the segment boundary — so the
        // streaming class (wall-clock-sensitive) localizes drift at
        // entry granularity (VERDICT r17 #1)
        val inStream = qi >= batchCount
        val probe =
          if (inStream) (qi + 1 - batchCount) % 4 == 0
          else (qi + 1) % sentinelEvery == 0
        if (probe || (qi + 1) == batchCount)
          sentinelSeries += ((qi, calibrate()))
        if (times.nonEmpty) n -> Right(times.min)
        else n -> Left(lastErr.getOrElse("no successful rep"))
      }}

    val calEnd = withTurn(1 + active.size)(calibrate())
    // DIRECTIONAL ratio: end/start. The JVM keeps JIT-warming through the
    // run, so end < start is normal on a healthy box (measured ~0.5x) and
    // must not trip the sentinel; contention arriving mid-run makes the
    // END probe slow (ratio >> 1), and a window that was contended
    // throughout is caught by the absolute ceiling (warm q1_agg on this
    // data is ~0.2-0.7s; 5s means the box is not measuring the engine).
    val calRatio =
      if (calStart.isNaN || calEnd.isNaN) Double.NaN
      else calEnd / math.max(1e-9, calStart)
    val degraded =
      calRatio.isNaN || calRatio > 2.0 ||
        math.min(calStart, calEnd) > 5.0

    val ok = results.collect { case (n, Right(t)) => n -> t }
    val errs = results.collect { case (n, Left(m)) => n -> m }
    val qs = ok.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")
    val es = errs.map { case (k, m) => s""""$k":"$m"""" }.mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    val cal =
      s"""{"query":"$calibrationQuery","start":${fmt(calStart)},"end":${fmt(calEnd)},"ratio":${fmt(calRatio)}}"""
    // the full probe series, start (-1) and end (n) included, so drift
    // correction can be per-segment instead of start/end-only
    val series = (Seq(-1 -> calStart) ++ sentinelSeries.toSeq ++
        Seq(active.size -> calEnd))
      .map { case (i, t) => s"""{"after":$i,"sec":${fmt(t)}}""" }
      .mkString("[", ",", "]")
    // per-streaming-entry micro-batch telemetry (VERDICT r17 #1): every
    // trigger's wall-time across all reps, capped per entry (the cap is
    // disclosure-safe: n_events carries the true count)
    val sb = streamBatches.map { case (n, evs) =>
      val ms = evs.map(_._3).take(120).mkString("[", ",", "]")
      s""""$n":{"n_events":${evs.size},"trigger_ms":$ms}"""
    }.mkString("{", ",", "}")
    val seg =
      s"""{"start_after":$batchCount,"entries":${active.drop(batchCount)
        .map(n => s""""$n"""").mkString("[", ",", "]")}}"""
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"errors":$es,"degraded":$degraded,"calibration":$cal,"sentinel_series":$series,"stream_segment":$seg,"streaming_batches":$sb,"sf":"$sfDir"}"""
    println(line)
    // ALSO persist the result whole (r14, verdict ask #3): the r13
    // driver artifact shipped `parsed: null` with a truncated stdout
    // tail (only 83/118 per-query timings recoverable), so cross-round
    // deltas broke. A file write cannot truncate mid-object; atomic
    // rename so a concurrently-reading driver never sees a partial
    // file. Override the path with SPARK_GRAFT_BENCH_OUT; best-effort
    // (an unwritable path must not fail the bench itself).
    // working-directory-relative default (ADVICE r14: an absolute
    // /root/repo path baked into library code silently no-ops on any
    // other checkout), and a logged failure instead of a silent one
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      // interleaved-pair JVMs must not clobber each other's artifact
      new java.io.File(
        if (lockstepDir.isDefined) s"BENCH_LAST.$role.json"
        else "BENCH_LAST.json").getAbsolutePath)
    try {
      val target = java.nio.file.Paths.get(outPath)
      val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
      java.nio.file.Files.write(tmp, (line + "\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } catch {
      case e: Throwable =>
        System.err.println(s"bench: artifact write to $outPath failed: $e")
    }
    spark.stop()
  }
}

package graft

import graft.graph.Graph
import graft.queries.PipelineQueries
import org.apache.spark.sql.functions._

/** Unit tests for the link-graph authority family (integer PageRank /
  * degrees) and the r15 pipeline additions riding on it: bitext mutual-
  * best alignment, curriculum schedule, rejection sampling.
  */
class GraphSpec extends GraftTest {

  test("pageRank matches a hand-iterated 3-node chain exactly") {
    import spark.implicits._
    // 1→2, 2→1, 3→1; two rounds of the integer iteration:
    // r1 = (1850000, 1000000, 150000); r2 = (1127500, 1722500, 150000)
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val got = Graph.pageRank(edges, nodes, iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1127500L, 2L -> 1722500L, 3L -> 150000L))
  }

  test("personalized pageRank: teleport mass flows only to the seed, hand-iterated") {
    import spark.implicits._
    // seeds = {1}: tp(1) = 150000*3/1 = 450000, others 0
    // r1 = (2150000, 850000, 0); r2 = (1172500, 1827500, 0)
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val got = Graph.personalizedPageRank(edges, nodes,
        nodes.where(col("node") === 1L), iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1172500L, 2L -> 1827500L, 3L -> 0L))
  }

  test("pageRank is layout-invariant (partitioning cannot change integer ranks)") {
    val docs = Graft.documents(spark, sf)
    val nodes = docs.select(col("doc_id").as("node"))
    val e = Graph.syntheticLinkGraph(docs)
    val a = Graph.pageRank(e.repartition(1), nodes.repartition(1), iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = Graph.pageRank(e.repartition(7), nodes.repartition(5), iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a === b)
    // the hub construction must be discriminating, not uniform
    assert(a.map(_._2).distinct.size > 10)
  }

  test("reliable-checkpoint mode: same pageRank/labelPropagation rows, superseded rounds deleted") {
    // a session checkpoint dir switches the loops from localCheckpoint to
    // reliable checkpoints: a pure execution-strategy switch, and every
    // superseded round's checkpoint files go as the loop advances — only
    // the final round (which the returned frame reads) stays on disk
    val docs = Graft.documents(spark, sf)
    val nodes = docs.select(col("doc_id").as("node"))
    val e = Graph.syntheticLinkGraph(docs)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // 10 rounds: ckptEvery = 8 fires at round 8, then the final round 10
    val prLocal = rows(Graph.pageRank(e, nodes, iterations = 10))
    val lpLocal = rows(Graph.labelPropagation(e, nodes, iterations = 3))
    val dir = java.nio.file.Files.createTempDirectory("graft-graphckpt-").toFile
    try {
      spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
      def rddDirs(): Set[String] =
        Option(dir.listFiles()).toSeq.flatten.filter(_.isDirectory)
          .flatMap(d => Option(d.listFiles()).toSeq.flatten)
          .filter(_.getName.startsWith("rdd-")).map(_.getPath).toSet
      val before = rddDirs()
      assert(rows(Graph.pageRank(e, nodes, iterations = 10)) === prLocal,
        "checkpoint mode must not change pageRank")
      val afterPr = rddDirs()
      assert((afterPr -- before).size === 1,
        s"pageRank left superseded checkpoints: ${afterPr -- before}")
      assert(rows(Graph.labelPropagation(e, nodes, iterations = 3)) === lpLocal,
        "checkpoint mode must not change labelPropagation")
      val afterLp = rddDirs()
      assert((afterLp -- afterPr).size === 1,
        s"labelPropagation left superseded checkpoints: ${afterLp -- afterPr}")
    } finally {
      // SparkContext-global: clear it so later tests stay in local mode
      // (null clears: SparkContext wraps in Option)
      spark.sparkContext.setCheckpointDir(null)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("syntheticLinkGraph: dst in range, distinct edges, outdeg 1..3") {
    val docs = Graft.documents(spark, sf)
    val n = docs.agg(max("doc_id")).head().getLong(0) + 1
    val e = Graph.syntheticLinkGraph(docs)
    assert(e.where(col("dst") < 0 || col("dst") >= n).count() === 0)
    assert(e.count() === e.distinct().count())
    val degs = e.groupBy("src").count().agg(min("count"), max("count")).head()
    assert(degs.getLong(0) >= 1L && degs.getLong(1) <= 3L)
  }

  test("degrees zero-fills isolated nodes and counts both directions") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("node")
    val got = Graph.degrees(edges, nodes)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(1L -> ((2L, 0L)), 2L -> ((1L, 1L)),
      3L -> ((0L, 2L)), 4L -> ((0L, 0L))))
  }

  test("bitext mutual-best: planted cross-side twins align, uniqueness holds") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // two planted translation pairs across the parity split, plus a
    // decoy: mutual-best must recover exactly the twins
    def v(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextFloat() - 0.5f)
    }
    def near(base: Array[Float]): Array[Float] =
      base.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x }
    val a0 = v(1); val a1 = v(2)
    val emb = Seq(
      (0L, a0, 0), (2L, a1, 0),             // source side (even labels)
      (1L, near(a0), 1), (3L, near(a1), 1), // targets: twins of 0 and 2
      (5L, v(9), 1)                         // decoy target, unrelated
    ).toDF("vec_id", "embedding", "label")
    val pairs = graft.ann.Ann.crossCosinePairs(
      emb.where(pmod(col("label"), lit(2)) === 0),
      emb.where(pmod(col("label"), lit(2)) =!= 0),
      "vec_id", "embedding", threshold = 0.4, nBits = 6, probeBits = 3,
      maxBucket = 1000)
    val wF = Window.partitionBy("batch_id").orderBy(col("cos").desc, col("corpus_id").asc)
    val wB = Window.partitionBy("corpus_id").orderBy(col("cos").desc, col("batch_id").asc)
    val mined = pairs.withColumn("rf", row_number().over(wF))
      .withColumn("rb", row_number().over(wB))
      .where(col("rf") === 1 && col("rb") === 1)
      .select(col("batch_id").as("src_id"), col("corpus_id").as("tgt_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mined === Set((0L, 1L), (2L, 3L)))
    // registry form over the real corpus: one row per src, one per tgt
    val out = PipelineQueries.all("pp_bitext_mine")(spark, sf)
    assert(out.groupBy("src_id").count().where(col("count") > 1).count() === 0)
    assert(out.groupBy("tgt_id").count().where(col("count") > 1).count() === 0)
  }

  test("curriculum: nested epoch membership, contiguous positions per bucket") {
    val out = PipelineQueries.all("pp_curriculum")(spark, sf).cache()
    val total = Graft.documents(spark, sf).count()
    // epoch 2 trains on everything; membership is nested by construction
    assert(out.where(col("epoch") === 2).count() === total)
    val e0 = out.where(col("epoch") === 0).select("doc_id")
    val e1 = out.where(col("epoch") === 1).select("doc_id")
    assert(e0.exceptAll(e1).count() === 0)
    // pos is a contiguous 1..n ranking within each (epoch, bucket)
    val bad = out.groupBy("epoch", "bucket")
      .agg(min("pos").as("mn"), max("pos").as("mx"), count(lit(1)).as("n"))
      .where(col("mn") =!= 1 || col("mx") =!= col("n"))
    assert(bad.count() === 0)
    out.unpersist()
  }

  test("packed SFT masks index the assistant span inside the packed sequence") {
    val texts = Graft.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val sftRows = PipelineQueries.all("pp_sft_mask")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = PipelineQueries.all("pp_pack_sft")(spark, sf).collect()
    assert(rows.length === texts.size)
    rows.groupBy(_.getAs[Long]("bin")).foreach { case (_, rs) =>
      val ordered = rs.sortBy(_.getLong(0))
      val packed = ordered.map(r => sftRows(r.getLong(0))).mkString
      ordered.foreach { r =>
        val id = r.getLong(0)
        val s = r.getAs[Long]("packed_mask_start").toInt
        val e = r.getAs[Long]("packed_mask_end").toInt
        val text = texts(id)
        val assistant = text.substring(text.length / 2)
        assert(packed.substring(s - 1, e - 1) === assistant,
          s"doc $id: packed span must be exactly the assistant half")
      }
    }
  }

  test("rejection sampling: the chosen candidate carries the group max reward") {
    val out = PipelineQueries.all("pp_rejection_sample")(spark, sf)
    val docs = Graft.documents(spark, sf)
    val rewards = docs.select(expr("doc_id div 4").as("prompt_id"),
      pmod(col("doc_id") * lit(48271L) + col("n_chars") * lit(16807L),
        lit(100000L)).as("r"))
    val maxes = rewards.groupBy("prompt_id").agg(max("r").as("want"))
    val joined = out.join(maxes, Seq("prompt_id"))
    assert(joined.where(col("best_reward") =!= col("want")).count() === 0)
    assert(out.where(col("margin") < 0).count() === 0)
  }

  test("blocklist filter: exact and dot-boundary-suffix hosts drop, others survive") {
    val out = PipelineQueries.all("pp_blocklist")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val block = Seq("example0.com", "example3.com", "sub2.example5.com")
    // survivors never match an entry exactly or as a dot-boundary suffix
    out.foreach { case (_, host) =>
      assert(!block.exists(e => host == e || host.endsWith("." + e)), host)
    }
    // the filter is non-vacuous and exact: recompute the expected set
    val total = Graft.documents(spark, sf).count()
    val expected = (0L until total).filterNot { id =>
      val host = s"sub${id % 5}.example${id % 7}.com"
      block.exists(e => host == e || host.endsWith("." + e))
    }.toSet
    assert(out.map(_._1).toSet === expected)
  }

  test("html links: four ordered anchors per page incl. quoted/unquoted href variants") {
    // r18 (VERDICT r17 #3): the fixture plants all three real-crawl href
    // forms — double-quoted, single-quoted with attributes around href,
    // and unquoted with whitespace around `=` — and the widened
    // extraction must surface every one, in tag order.
    val out = PipelineQueries.all("txt_html_links")(spark, sf).cache()
    val total = Graft.documents(spark, sf).count()
    assert(out.count() === 4 * total)
    val first = out.where(col("doc_id") === 10L)
      .orderBy("link_idx").collect()
      .map(r => (r.getLong(1), r.getString(2), r.getString(3)))
    assert(first.toSeq === Seq(
      (1L, "https://example3.com/p10", "read 10"),
      (2L, "https://example1.org/q10", "more 10"),
      (3L, "https://example0.net/r10", "next 1"),
      (4L, "https://ex0.io/s0", "go 4")))
    out.unpersist()
  }

}

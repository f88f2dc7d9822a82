package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

import graft.sim.Similarity
import graft.stream.CorpusIngest
import graft.tables.{LakeTable, Tables}
import graft.text.{Dedup, TextFeatures}

/** A seeded corpus with planted exact duplicates, near-duplicates (a few
  * words replaced) and contained copies (a document plus extra words). A
  * quarter of it is the seed slice, landed once in the warm-up; each round
  * (a pass) clones that committed table, brings the rest as one micro-batch
  * through `CorpusIngest.startNearDup` (deduplicated within the batch and
  * against the lake), then embeds the landed documents (`TextFeatures`),
  * kNN-graphs them (`Similarity.knnGraph`) and audits the delivered batch
  * for near-duplicates (`Dedup`). */
final class CorpusWorkload(seed: Long, tiny: Boolean) extends Workload {
  private val BaseDocs = if (tiny) 40 else 96
  private val SeedDocs = BaseDocs / 4
  private val SeedTable = "corpus_seed"
  private val ExactShare = 0.05
  private val NearShare = 0.15
  private val ContainShare = 0.05

  val classes: Set[String] = Set("batch", "embed", "knn", "audit")
  val roundSize: Int = 4

  private var docs = IndexedSeq.empty[(Long, String)]
  private var exactPlanted = Seq.empty[(Long, Long)]
  /** Each base document with its planted copies, and whether one of the
    * copies contains it (the ingest keeps the container, not the min id). */
  private var clusters = Seq.empty[(Set[Long], Boolean)]
  private var seedIds = Set.empty[Long]
  private var batchIds = Set.empty[Long]
  private var seedFile: Path = _
  private var batchFile: Path = _
  private var batchDocs = 0
  private val Features = 1 << 10
  private val K = 4
  private val Iters = 4
  private var lake: LakeTable = _
  private var emb: DataFrame = _
  private var embRows = 0L
  private var vectors = Map.empty[Long, Array[Float]] // the checked embeddings
  private var fingerprints = Map.empty[String, Digest] // landed set, kNN graph
  private var words = 0L

  private def generate(): Unit = {
    val rnd = new scala.util.Random(seed)
    val vocab = IndexedSeq.fill(3000)(Iterator.continually(('a' + rnd.nextInt(26)).toChar)
      .take(3 + rnd.nextInt(7)).mkString)
    def words(n: Int) = IndexedSeq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val base = IndexedSeq.fill(BaseDocs)(words(25 + rnd.nextInt(20)))
    val out = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[String]] ++ base
    val plantedPairs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    def plant(n: Int)(f: IndexedSeq[String] => IndexedSeq[String]): Unit =
      (0 until n).foreach { _ =>
        val o = rnd.nextInt(BaseDocs)
        out += f(base(o)); plantedPairs += o -> (out.size - 1)
      }
    plant((BaseDocs * ExactShare).toInt)(identity)
    plant((BaseDocs * NearShare).toInt)(d => d.map(w => if (rnd.nextInt(40) == 0) vocab(rnd.nextInt(vocab.size)) else w))
    plant((BaseDocs * ContainShare).toInt)(d => d ++ words(d.size / 3))
    // doc ids are a seeded permutation, so a copy may arrive before its original
    val ids = rnd.shuffle((1L to out.size.toLong).toIndexedSeq)
    docs = out.indices.map(k => ids(k) -> out(k).mkString(" "))
    exactPlanted = plantedPairs.take((BaseDocs * ExactShare).toInt).map { case (o, c) => ids(o) -> ids(c) }.toSeq
    val contained = plantedPairs.takeRight((BaseDocs * ContainShare).toInt).map(_._1).toSet
    clusters = base.indices.map { o =>
      (plantedPairs.collect { case (`o`, c) => ids(c) }.toSet + ids(o), contained(o))
    }
    this.words = out.map(_.size.toLong).sum
  }

  def setup(ctx: Ctx): Unit = {
    generate()
    val shuffled = new scala.util.Random(seed + 1).shuffle(docs)
    seedFile = writeBatch(ctx, "seed", shuffled.take(SeedDocs))
    batchFile = writeBatch(ctx, "batch", shuffled.drop(SeedDocs))
    seedIds = shuffled.take(SeedDocs).map(_._1).toSet
    batchIds = shuffled.drop(SeedDocs).map(_._1).toSet
    batchDocs = docs.size - SeedDocs
    lake = new LakeTable(ctx.spark, ctx.dir.resolve("lake").toString)
    fingerprints = Map.empty
  }

  private def writeBatch(ctx: Ctx, name: String, part: Seq[(Long, String)]): Path = {
    val rows = part.map { case (id, t) => Row(id, t, "en", s"src${id % 4}", t.length.toLong) }
    val d = ctx.dir.resolve(s"batches/$name")
    ctx.spark.createDataFrame(rows.asJava, Tables.schemas("documents")).coalesce(1).write.parquet(d.toString)
    Files.list(d).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
  }

  /** Land the seed slice (the committed corpus every pass starts from) and
    * run it through every layer of the pipeline once. */
  def warmUp(ctx: Ctx): Unit = {
    ingest(ctx, SeedTable, seedFile)
    val e = TextFeatures.tfidfEmbeddings(landed(ctx, SeedTable), Features).localCheckpoint()
    Digest.of(Similarity.knnGraph(e, k = K, iters = Iters))
    e.unpersist(blocking = true)
    Dedup.minhashNearDups(ctx.spark.read.parquet(seedFile.getParent.toString).select("doc_id", "text"),
      threshold = 0.8).count()
  }

  private def table(pass: Int) = s"corpus_$pass"

  /** Deliver `file` to `table`'s stream dir and run the near-dup ingest over
    * it; returns the number of micro-batches that read data. */
  private def ingest(ctx: Ctx, table: String, file: Path): Long = {
    val dir = ctx.dir.resolve(s"stream_$table")
    Files.createDirectories(dir)
    val tmp = dir.resolve(".batch.tmp")
    Files.copy(file, tmp)
    Files.move(tmp, dir.resolve("batch.parquet"), StandardCopyOption.ATOMIC_MOVE)
    ctx.tracer.span("stream", "CorpusIngest.startNearDup") {
      val q = CorpusIngest.startNearDup(ctx.spark, dir.toString, lake, table,
        threshold = 0.8, numPerms = 32, bands = 16, containmentThreshold = Some(0.5),
        checkpoint = Some(ctx.dir.resolve(s"ckpt_$table").toString),
        shufflePartitions = Some(ctx.cores))
      q.awaitTermination()
      q.recentProgress.count(_.numInputRows > 0)
    }
  }

  private def landed(ctx: Ctx, table: String): DataFrame =
    ctx.tracer.span("tables", "LakeTable.read") { lake.read(table).select("doc_id", "text") }

  def op(ctx: Ctx, i: Int): Op = {
    val pass = i / roundSize
    val T = ctx.tracer
    i % roundSize match {
      case 0 =>
        // the pass starts from a zero-copy clone of the committed seed slice
        Seq("", "_grams").filter(x => lake.exists(SeedTable + x))
          .foreach(x => lake.cloneTable(SeedTable + x, table(pass) + x))
        Op("ingest_batch", "batch", () => { T.count("stream.batches", 1); ingest(ctx, table(pass), batchFile) },
          r => Check.equal("micro-batches run", r, 1), work = batchDocs)
      case 1 =>
        Op("embed", "embed", () => T.span("text", "TextFeatures.tfidfEmbeddings") {
            emb = TextFeatures.tfidfEmbeddings(landed(ctx, table(pass)), Features).localCheckpoint()
            val d = Digest.of(emb)
            embRows = d.rows
            d
          },
          r => checkLanded(ctx, pass, r.asInstanceOf[Digest]))
      case 2 =>
        Op("knn_graph", "knn", () => T.span("sim", "Similarity.knnGraph") {
            T.count("sim.probes", embRows.toDouble)
            Similarity.knnGraph(emb, k = K, iters = Iters).collect()
          },
          r => { emb.unpersist(blocking = true); checkKnn(r.asInstanceOf[Array[Row]]) })
      case _ =>
        // the audit reads the micro-batch as delivered, planted copies included
        val batch = ctx.spark.read.parquet(batchFile.getParent.toString).select("doc_id", "text")
        Op("near_dup_audit", "audit", () => T.span("text", "Dedup.minhashNearDups") {
            val pairs = Dedup.minhashNearDups(batch, threshold = 0.8).select("doc_a", "doc_b").collect()
              .map(r => Set(r.getLong(0), r.getLong(1))).toSet
            T.count("text.verified_pairs", pairs.size.toDouble)
            pairs
          },
          r => checkAudit(r.asInstanceOf[Set[Set[Long]]]))
    }
  }

  /** Every planted exact duplicate inside the batch is found (banding may
    * miss a near-duplicate by design, so those only count), and every pair
    * found is two batch documents of one planted cluster: the base
    * documents are random word draws, far apart from each other. */
  private def checkAudit(pairs: Set[Set[Long]]): Unit = {
    val missed = exactPlanted.filter { case (o, c) => batchIds(o) && batchIds(c) && !pairs(Set(o, c)) }
    Check.equal("planted exact duplicates the audit missed", missed.size, 0)
    val cluster = clusters.zipWithIndex.flatMap { case ((ids, _), k) => ids.map(_ -> k) }.toMap
    val stray = pairs.filterNot(p => p.size == 2 && p.forall(batchIds) && p.map(cluster).size == 1)
    Check.that(s"audit pairs outside the planted clusters: ${stray.take(3)}", stray.isEmpty)
  }

  /** The landed corpus against the generator's own record: every planted
    * cluster (a base document and its copies) lands exactly one document,
    * with its input text. Where no copy contains the base document, that is
    * the cluster's smallest id among the documents landed earlier (the seed
    * slice), else its smallest id: in-batch dedup keeps the min doc_id and a
    * batch never displaces a committed document. Then the embeddings: one
    * unit-length vector of `Features` dimensions per landed document. */
  private def checkLanded(ctx: Ctx, pass: Int, embDigest: Digest): Unit = {
    vectors = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val got = lake.read(table(pass)).select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    val input = docs.toMap
    Check.that("landed docs are a subset of the input", got.forall { case (id, t) => input.get(id).contains(t) })
    val ids = got.map(_._1).toSet
    Check.equal("landed doc ids are distinct", ids.size, got.length)
    val wrong = clusters.filter { case (members, hasContainer) =>
      val in = members.intersect(ids)
      val earlier = members.intersect(seedIds)
      in.size != 1 || (!hasContainer && in.head != (if (earlier.nonEmpty) earlier else members).min)
    }
    Check.that(s"planted clusters not landed as exactly their expected document: " +
      wrong.take(3).map { case (m, _) => s"${m.toSeq.sorted} landed ${m.intersect(ids).toSeq.sorted}" }.mkString("; "),
      wrong.isEmpty)
    val sch = Tables.schemas("documents")
    fingerprints += "landed" -> Digest.ofRows(StructType(Seq(sch("doc_id"), sch("text"))),
      got.map { case (id, t) => Row(id, t) })

    Check.equal("embedded rows", embDigest.rows, got.length.toLong)
    Check.equal("embedded doc ids", vectors.keySet, ids)
    val bad = vectors.filterNot { case (_, v) =>
      v.length == Features && math.abs(math.sqrt(v.map(x => x.toDouble * x).sum) - 1.0) < 1e-4 }
    Check.that(s"embeddings not of unit length in $Features dimensions: ${bad.keys.take(3)}", bad.isEmpty)
  }

  /** The kNN graph's invariants against the checked embeddings: every
    * landed document has its K neighbours, ranked 1..K by falling cosine;
    * a neighbour is another landed document; and each edge's cos_sim is the
    * cosine of the two embeddings. */
  private def checkKnn(edges: Array[Row]): Unit = {
    def cos(a: Long, b: Long) = vectors(a).iterator.zip(vectors(b).iterator).map { case (x, y) => x.toDouble * y }.sum
    val byAnchor = edges.groupBy(_.getAs[Long]("vec_id"))
    Check.equal("kNN anchors", byAnchor.keySet, vectors.keySet)
    val wrong = byAnchor.filterNot { case (a, es) =>
      val ranked = es.sortBy(_.getAs[Int]("rn"))
      val nbrs = ranked.map(_.getAs[Long]("neighbor_id"))
      val sims = ranked.map(_.getAs[Double]("cos_sim"))
      ranked.map(_.getAs[Int]("rn")).toSeq == (1 to K) && nbrs.distinct.length == K &&
        nbrs.forall(n => n != a && vectors.contains(n)) &&
        sims.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)) &&
        nbrs.zip(sims).forall { case (n, c) => math.abs(cos(a, n) - c) < 1e-5 }
    }
    Check.that(s"kNN edges failing the graph invariants, anchors ${wrong.keys.take(3)}", wrong.isEmpty)
    fingerprints += "knn" -> Digest.ofRows(edges.head.schema, edges)
  }

  def properties: Seq[(String, Any)] = Seq(
    "docs" -> docs.size, "words" -> words, "seed_docs" -> SeedDocs, "batch_docs" -> batchDocs,
    "clusters" -> clusters.size,
    "landed_fingerprint" -> fingerprints.get("landed").map(_.toString).getOrElse(""),
    "knn_graph_digest" -> fingerprints.get("knn").map(_.toString).getOrElse(""),
    "exact_dup_share" -> (BaseDocs * ExactShare).toInt.toDouble / docs.size,
    "near_dup_share" -> (BaseDocs * NearShare).toInt.toDouble / docs.size,
    "containment_share" -> (BaseDocs * ContainShare).toInt.toDouble / docs.size)

  def finish(ctx: Ctx, samples: Seq[Sample]): Map[String, Double] = {
    val passes = samples.groupBy(_.round).values.filter(ss => ss.size == roundSize && ss.forall(_.ok))
    val docsIn = passes.size.toDouble * batchDocs
    val ms = passes.flatten.map(_.ms).sum
    Map("docs_per_s" -> (if (ms > 0) docsIn / (ms / 1000.0) else 0.0))
  }
}

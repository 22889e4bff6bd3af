package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.io.TableIO
import graft.operators.Scatter
import graft.text.TextAnalysis

/** Text curation over a generated corpus with planted duplicates: one
  * op is the chain `Dedup.dropExactDuplicates` -> `TextAnalysis`
  * quality filter -> `Dedup.fuzzyDedupCorpus` -> `TableIO.overwrite`
  * into a fresh warehouse, followed by three reads of the output, which
  * are checked against the planted roles and the input.
  *
  * The chain is lazy up to the fuzzy dedup, so a traced run
  * materializes each stage inside its span (`localCheckpoint`) to give
  * each module its own time; the overhead figure includes that.
  */
final class CurationWorkload(ctx: Ctx) extends Workload {
  import CurationWorkload._
  private val spark = ctx.spark
  private val docsPath = ctx.work.resolve("curation-input/documents.parquet").toString
  private val vecsPath = ctx.work.resolve("curation-input/embeddings.parquet").toString
  private var roles: Map[Long, Gen.Role.Value] = Map.empty
  private var texts: Map[Long, String] = Map.empty
  private var keptIds: IndexedSeq[Long] = IndexedSeq.empty
  private var keptChars = (0L, 0L)
  private var inputBytes, chars = 0L
  private var lastWarehouse: Option[java.nio.file.Path] = None
  private val writeAmps = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** Chains vary by a tenth from one to the next; five steady the median. */
  override def minWarmOps: Int = 5

  def prepare(): Map[String, Any] = {
    val c = Gen.corpus(ctx.seed, Docs, Vectors, Dim)
    roles = c.roles
    texts = c.docs.map(r => r.getLong(0) -> r.getString(1)).toMap
    keptIds = roles.collect { case (id, Gen.Role.Kept) => id }.toIndexedSeq.sorted
    keptChars = (keptIds.size.toLong, keptIds.map(id => texts(id).length.toLong).sum)
    chars = c.chars
    inputBytes = Gen.write(spark, c.docs, Gen.DocumentsSchema, docsPath)
    Gen.write(spark, c.embeddings, Gen.EmbeddingsSchema, vecsPath)
    val byRole = roles.values.groupBy(identity).map { case (k, v) => k.toString -> v.size }
    Map("documents" -> Docs, "text_chars" -> chars, "documents_bytes" -> inputBytes,
      "planted" -> byRole.toSeq.sorted.map { case (k, n) => s"$k:$n" }.mkString(","),
      "embeddings" -> Vectors, "embedding_dim" -> Dim,
      "quality_threshold" -> QualityThreshold, "jaccard_threshold" -> JaccardThreshold)
  }

  private def stage(name: String)(df: => DataFrame): DataFrame =
    ctx.span(name)(if (ctx.tracer.enabled) df.localCheckpoint(eager = true) else df)

  def op(i: Int): Step = {
    val wh = ctx.work.resolve(s"curation-wh-$i")
    val io = TableIO(spark, wh.toString)
    val (ms, res) = Workload.timed {
      val docs = spark.read.parquet(docsPath)
      val exact = stage("dedup.exact")(Dedup.dropExactDuplicates(docs))
      val scored = stage("text.score")(
        TextAnalysis.scoreDocuments(exact).filter(col("quality") >= QualityThreshold))
      val fuzzy = stage("dedup.near_dup")(Dedup.fuzzyDedupCorpus(scored, JaccardThreshold))
      ctx.span("io.overwrite")(io.overwrite(fuzzy, Target))
    }
    // three reads of the output: the ids (checked against the planted
    // roles), an aggregate of the document lengths, and one point lookup
    // of a kept document's text, both checked against the input
    val reads = scala.collection.mutable.ArrayBuffer.empty[Double]
    def read[T](f: DataFrame => T): Either[String, T] = ctx.read(io, Target, reads)(f)
    val probe = keptIds(i % keptIds.size)
    val failures = res.left.toSeq ++
      read(_.select("doc_id").collect().map(_.getLong(0)).toSeq)
        .fold(e => Seq(e), ids => Checks.curation(roles, ids)) ++
      read(_.agg(count(lit(1)), sum("n_chars")).head())
        .fold(e => Seq(e), r => if ((r.getLong(0), r.getLong(1)) == keptChars) Nil
          else Seq(s"curated (count, sum n_chars) (${r.getLong(0)}, ${r.getLong(1)}) != kept $keptChars")) ++
      read(_.filter(col("doc_id") === probe).select("text").collect().map(_.getString(0)).toSeq)
        .fold(e => Seq(e), t => if (t == Seq(texts(probe))) Nil else Seq(s"curated text of doc $probe differs"))
    writeAmps += Stats.duBytes(wh).toDouble / inputBytes
    lastWarehouse.foreach(Stats.deleteTree)
    lastWarehouse = Some(wh)
    Step(Seq(ms), reads.toSeq, failures)
  }

  def rowsPerOp: Long = Docs

  def finish(): Finish = {
    val wh = lastWarehouse.get
    val p = ctx.work.resolve("curation-compact").toString
    TableIO(spark, wh.toString).read(Target).coalesce(1).write.parquet(p)
    Finish(Stats.median(writeAmps.toSeq),
      Stats.duBytes(wh).toDouble / Stats.duBytes(java.nio.file.Paths.get(p)), Nil, Map.empty)
  }

  /** The kernel table: each native expression projected over the corpus
    * (or the vectors) repeated `DocCopies` (`VecCopies`) times, timed as wall ns
    * per row across all cores, less a baseline projection of the same
    * rows that computes only the kernel's input; plus the width
    * `Scatter` gives the dedup kernel stage.
    */
  override def traceExtras(): Map[String, Any] = {
    val par = spark.sparkContext.defaultParallelism
    val docSrc = spark.read.parquet(docsPath).select("text").repartition(par).cache()
    val vecSrc = spark.read.parquet(vecsPath).select(col("embedding").cast("array<double>").as("a"))
      .withColumn("b", reverse(col("a"))).repartition(par).cache()
    val docs = Seq.fill(DocCopies)(docSrc).reduce(_ union _)
    val vecs = Seq.fill(VecCopies)(vecSrc).reduce(_ union _)
    val docRows = docSrc.count() * DocCopies
    val vecRows = vecSrc.count() * VecCopies
    val scatter = Scatter.cpu(TextAnalysis.scoreDocuments(
      Dedup.dropExactDuplicates(spark.read.parquet(docsPath))).filter(col("quality") >= QualityThreshold))
      .rdd.getNumPartitions
    // a fresh Dataset per run: re-collecting one Dataset reuses its
    // materialized adaptive query stages and skips the projection
    def time(df: DataFrame, e: String): Double = {
      def q() = df.select(expr(e).cast("double").as("x")).agg(sum("x")).collect()
      q() // warm
      Stats.median((1 to 3).map(_ => Workload.timed(q())._1))
    }
    val shingles = "graft_shingle_hashes(text, 5)"
    val tokens = "split(lower(text), '[^a-z0-9]+')"
    // (name, frame, kernel, baseline computing only the kernel's input)
    val kernels = Seq(
      ("shingle", docs, s"size($shingles)", "length(text)"),
      ("minhash", docs, s"size(graft_minhash_hashed($shingles, 32))", s"size($shingles)"),
      ("simhash", docs, "graft_simhash_shingled(text, 5, 60)", "length(text)"),
      ("winnow", docs, s"size(graft_winnow($tokens, 3, 4))", s"size($tokens)"),
      ("textcounts", docs, "graft_textcounts(text).n_tok", "length(text)"),
      ("bpe", docs, "graft_bpe_count(text)", "length(text)"),
      ("cosine", vecs, "graft_cosine(a, b)", "size(a) + size(b)"))
    val table = kernels.map { case (n, df, k, base) =>
      val (rows, bytes) = if (df eq vecs) (vecRows, vecRows * Dim * 8L) else (docRows, chars * DocCopies)
      (n, (time(df, k) - time(df, base)) * 1e6 / rows, rows, bytes)
    }
    docSrc.unpersist()
    vecSrc.unpersist()
    table.map { case (n, ns, _, _) => s"functions.${n}_ns_per_row" -> ns }.toMap[String, Any] ++
      Map("operators.scatter_tasks" -> scatter.toDouble,
        "kernel_table" -> table.map { case (n, ns, rows, bytes) =>
          f"$n: $ns%.0f ns/row over $rows rows, $bytes bytes" }.mkString("; "))
  }
}

object CurationWorkload {
  val Target = "default.curated"
  /** Large enough that size-dependent work (text I/O, dedup shuffles,
    * kernels) outweighs the chain's fixed per-job cost; see the README.
    */
  val Docs = 6000
  val Vectors = 10000
  val Dim = 64
  /** Copies of the corpus and of the vectors the kernel table projects
    * over: enough rows that each query's kernel time dwarfs its job
    * overhead (the md5 simhash costs about 0.2 ms per document).
    */
  val DocCopies = 1
  val VecCopies = 16
  val QualityThreshold = 0.6
  val JaccardThreshold = 0.8
}

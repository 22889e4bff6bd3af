package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every table is a pure function of the seed
  * and its size parameters (same seed, same rows), built on the driver
  * and written as parquet; the library only ever sees the files.
  */
object Gen {

  private def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  // ---------------------------------------------------------------- star schema

  val NationSchema = StructType(Seq(
    StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))
  val CustomerSchema = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))
  val SupplierSchema = StructType(Seq(
    StructField("s_suppkey", LongType), StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType)))
  val OrdersSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
  val LineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  final case class Star(nation: Seq[Row], customer: Seq[Row], supplier: Seq[Row],
                        orders: Seq[Row], lineitem: Seq[Row], planted: StarPlanted)

  /** What the generator planted, and the answers that follow from it. */
  final case class StarPlanted(lineitems: Long, rejects: Long, orphanCustRows: Long,
                               orphanSuppRows: Long, nationPairs: Long, revenue: Double)

  private val LinesPerOrder = 4
  private val Day = 86400000L
  private val Epoch1995 = 788918400000L // 1995-01-01T00:00:00Z

  /** A star schema of `nLine` lineitem rows, orders dated within one
    * year (so the monthly ingest partitions number about 16). About 2% of lineitem rows
    * are planted rejects (a null measure or ship date, or a
    * non-positive quantity or price), about 1% of orders reference a
    * customer key absent from `customer`, and about 1% of lineitem rows
    * a supplier key absent from `supplier`.
    */
  def star(seed: Long, nLine: Int): Star = {
    val r = rng(seed, 1)
    val nOrders = (nLine + LinesPerOrder - 1) / LinesPerOrder
    val nCust = math.max(100, nLine / 40)
    val nSupp = math.max(10, nLine / 600)
    val nation = (0 until 25).map(k => Row(k, f"NATION_$k%02d", k / 5))
    val custNation = Array.fill(nCust)(r.nextInt(25))
    val customer = (0 until nCust).map { i =>
      Row((i + 1).toLong, f"Customer#$i%09d", custNation(i),
        math.round(r.nextDouble(-999, 9999) * 100) / 100.0,
        Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")(r.nextInt(5)))
    }
    val suppNation = Array.fill(nSupp)(r.nextInt(25))
    val supplier = (0 until nSupp).map { i =>
      Row((i + 1).toLong, f"Supplier#$i%09d", suppNation(i),
        math.round(r.nextDouble(-999, 9999) * 100) / 100.0)
    }
    // an orphan key sits above the dimension's key range
    val orderCust = Array.tabulate(nOrders)(_ =>
      if (r.nextInt(100) == 0) (nCust + 1 + r.nextInt(1000)).toLong else (1 + r.nextInt(nCust)).toLong)
    val orderDate = Array.fill(nOrders)(Epoch1995 + r.nextInt(365).toLong * Day)
    val orders = (0 until nOrders).map { o =>
      Row((o + 1).toLong, orderCust(o), Seq("O", "F", "P")(r.nextInt(3)),
        math.round(r.nextDouble(1000, 400000) * 100) / 100.0,
        new Timestamp(orderDate(o)), Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(r.nextInt(5)))
    }
    var rejects, orphanCust, orphanSupp = 0L
    var revenue = 0.0
    val pairs = scala.collection.mutable.HashSet.empty[(Int, Int)]
    val lineitem = (0 until nLine).map { i =>
      val o = i / LinesPerOrder
      val orphanS = r.nextInt(100) == 0
      val supp = if (orphanS) (nSupp + 1 + r.nextInt(1000)).toLong else (1 + r.nextInt(nSupp)).toLong
      var qty: java.lang.Double = (1 + r.nextInt(50)).toDouble
      var price: java.lang.Double = math.round(qty * r.nextDouble(900, 2000) * 100) / 100.0
      var disc: java.lang.Double = r.nextInt(11) / 100.0
      var ship: Timestamp = new Timestamp(orderDate(o) + (1 + r.nextInt(120)).toLong * Day)
      val reject = r.nextInt(50) == 0
      if (reject) r.nextInt(6) match {
        case 0 => qty = null
        case 1 => price = null
        case 2 => disc = null
        case 3 => ship = null
        case 4 => qty = -r.nextInt(3).toDouble
        case _ => price = -r.nextInt(3).toDouble
      }
      if (reject) rejects += 1
      else {
        val custOrphan = orderCust(o) > nCust
        if (custOrphan) orphanCust += 1
        if (orphanS) orphanSupp += 1
        revenue += price * (1 - disc)
        pairs += ((if (custOrphan) -1 else custNation((orderCust(o) - 1).toInt),
          if (orphanS) -1 else suppNation((supp - 1).toInt)))
      }
      Row((o + 1).toLong, (1 + r.nextInt(20000)).toLong, supp, i % LinesPerOrder + 1,
        qty, price, disc, r.nextInt(9) / 100.0,
        Seq("A", "N", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)), ship)
    }
    Star(nation, customer, supplier, orders, lineitem,
      StarPlanted(nLine, rejects, orphanCust, orphanSupp, pairs.size, revenue))
  }

  // ---------------------------------------------------------------- documents

  val DocumentsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val EmbeddingsSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Planted roles: `Kept` docs must survive curation; every other role
    * must be dropped, each by the stage named after it.
    */
  object Role extends Enumeration { val Kept, ExactDup, NearDup, LowQuality = Value }

  final case class Corpus(docs: Seq[Row], roles: Map[Long, Role.Value], embeddings: Seq[Row],
                          chars: Long)

  private val Stop = Array("the", "of", "and", "to", "in", "is", "for", "on", "with", "a")

  private def word(r: SplittableRandom): String = {
    val n = 3 + r.nextInt(7)
    val b = new StringBuilder
    (0 until n).foreach(_ => b.append(('a' + r.nextInt(26)).toChar))
    b.toString
  }

  /** Natural-looking text: content words from a per-corpus vocabulary,
    * every third word a stopword, a sentence break every 12 words.
    * Scores well above the quality threshold.
    */
  private def goodText(r: SplittableRandom, vocab: Array[String], chars: Int): String = {
    val b = new StringBuilder
    var w = 0
    while (b.length < chars) {
      if (w > 0) b.append(' ')
      b.append(if (w % 3 == 2) Stop(r.nextInt(Stop.length)) else vocab(r.nextInt(vocab.length)))
      w += 1
      if (w % 12 == 0) b.append('.')
    }
    b.append('.').toString
  }

  /** Boilerplate-like junk: short, no stopwords, punctuation-heavy. */
  private def junkText(r: SplittableRandom): String =
    (0 until 6 + r.nextInt(10)).map(_ => word(r) + Seq("!!", "??", ";;", "::")(r.nextInt(4))).mkString(" ")

  /** One character changed per 500 (at least one): exact-dedup sees a
    * new document, while its 5-gram Jaccard to the original stays near
    * 0.98, far above the curation threshold.
    */
  private def nearCopy(r: SplittableRandom, text: String): String = {
    val cs = text.toCharArray
    (0 until math.max(1, cs.length / 500)).foreach { _ =>
      var p = r.nextInt(cs.length)
      while (!cs(p).isLetter) p = (p + 1) % cs.length
      cs(p) = if (cs(p) == 'z') 'q' else 'z'
    }
    new String(cs)
  }

  /** `nDocs` documents: 70% kept originals of 300 to 3000 characters,
    * 10% low-quality junk, 10% exact copies and 10% near copies of
    * kept originals. A copy always has a larger id than its original,
    * so the min-id representative of every group is the original.
    * Rows are shuffled so copies do not sit beside their originals.
    */
  def corpus(seed: Long, nDocs: Int, nVecs: Int, dim: Int): Corpus = {
    val r = rng(seed, 2)
    val vocab = Array.fill(3000)(word(r))
    val nOrig = nDocs * 7 / 10
    val nJunk = nDocs / 10
    val nExact = nDocs / 10
    val nNear = nDocs - nOrig - nJunk - nExact
    val orig = Array.fill(nOrig)(goodText(r, vocab, 300 + r.nextInt(2700)))
    val texts = scala.collection.mutable.ArrayBuffer.empty[(String, Role.Value)]
    orig.foreach(t => texts += ((t, Role.Kept)))
    (0 until nJunk).foreach(_ => texts += ((junkText(r), Role.LowQuality)))
    // sample originals without replacement for the copies
    val perm = (0 until nOrig).toArray
    (nOrig - 1 to 1 by -1).foreach { i => val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t }
    (0 until nExact).foreach(i => texts += ((orig(perm(i % nOrig)), Role.ExactDup)))
    (0 until nNear).foreach(i => texts += ((nearCopy(r, orig(perm((nExact + i) % nOrig))), Role.NearDup)))
    val order = texts.indices.toArray
    (order.length - 1 to 1 by -1).foreach { i => val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t }
    val docs = order.toSeq.map { i =>
      val (t, _) = texts(i)
      Row(i.toLong, t, "en", Seq("web", "books", "news")(r.nextInt(3)), t.length.toLong)
    }
    val roles = texts.indices.map(i => i.toLong -> texts(i)._2).toMap
    val embeddings = (0 until nVecs).map { i =>
      Row(i.toLong, Array.fill(dim)(r.nextDouble(-1, 1).toFloat).toSeq, r.nextInt(10))
    }
    Corpus(docs, roles, embeddings, texts.map(_._1.length.toLong).sum)
  }

  // ---------------------------------------------------------------- events

  val EventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Batch `b` of the event stream: `size` events with globally
    * increasing ids and timestamps over `users` user ids, so the latest
    * event per user is unambiguous.
    */
  def eventBatch(seed: Long, b: Int, size: Int, users: Int): Seq[Row] = {
    val r = rng(seed, 1000L + b)
    (0 until size).map { i =>
      val id = b.toLong * size + i
      Row(id, new Timestamp(Epoch1995 + id * 1000L), r.nextInt(users).toLong,
        Seq("view", "click", "cart", "buy")(r.nextInt(4)),
        math.round(r.nextDouble(0, 500) * 100) / 100.0, s"""{"k":${r.nextInt(100)}}""")
    }
  }

  // ---------------------------------------------------------------- writing

  def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String, files: Int = 1): Long = {
    frame(spark, rows, schema).repartition(files).write.mode("overwrite").parquet(path)
    Stats.duBytes(java.nio.file.Paths.get(path))
  }

  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }
}

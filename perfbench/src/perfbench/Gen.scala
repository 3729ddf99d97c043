package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded inputs. The engine only ever sees the parquet files written here;
  * the models in `Models.scala` see the same in-memory rows, never engine
  * output. Same seed, same rows, same op sequence. */
object Gen {
  val Houses: IndexedSeq[String] =
    IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  final case class Person(key: Int, name: String, nation: Int, acctbal: Double, house: String)
  final case class Vec(id: Long, v: Array[Float], label: Int)
  final case class Order(key: Long, cust: Long, status: String, price: Double,
                         date: java.sql.Date, priority: String)
  final case class Doc(id: Long, text: String, group: Long)

  /** Independent stream per (seed, purpose). */
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (salt * 0xC2B2AE3D27D4EB4FL))

  def name(k: Int): String = f"Customer#$k%09d"

  /** Contiguous keys from 0: the corpus-scale GraphX algorithms rely on it. */
  def persons(seed: Long, n: Int): IndexedSeq[Person] = {
    val r = rng(seed, 1)
    (0 until n).map(k => Person(k, name(k), r.nextInt(25),
      (r.nextInt(1099999) - 99999) / 100.0, Houses(r.nextInt(Houses.size))))
  }

  /** 64-dim float vectors around 10 label centres, so the IVF cells mean
    * something. */
  def vectors(seed: Long, n: Int, dim: Int = 64): IndexedSeq[Vec] = {
    val r = rng(seed, 2)
    def gauss(): Double = {
      var s = 0.0; var i = 0
      while (i < 12) { s += r.nextDouble(); i += 1 }
      s - 6.0
    }
    val centres = Array.fill(10, dim)(gauss())
    (0 until n).map { i =>
      val label = r.nextInt(10)
      Vec(i.toLong, Array.tabulate(dim)(j => (centres(label)(j) + 0.8 * gauss()).toFloat), label)
    }
  }

  val Statuses: IndexedSeq[String] = IndexedSeq("F", "O", "P")
  val Priorities: IndexedSeq[String] =
    IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Epoch = java.time.LocalDate.of(1992, 1, 1)

  def order(r: SplittableRandom, key: Long): Order =
    Order(key, r.nextInt(15000).toLong, Statuses(r.nextInt(3)), r.nextInt(50000000) / 100.0,
      java.sql.Date.valueOf(Epoch.plusDays(r.nextInt(2400).toLong)), Priorities(r.nextInt(5)))

  /** Keys 1..n. */
  def orders(seed: Long, n: Int): IndexedSeq[Order] = {
    val r = rng(seed, 3)
    (1 to n).map(k => order(r, k.toLong))
  }

  /** Documents over a 50k-token vocabulary, so unrelated documents share
    * no 3-shingle. One in five is a copy of an earlier base document, exact
    * or with its last token replaced (shingle Jaccard (L-3)/(L-1) > 0.95),
    * so the true near-duplicate clusters are the planted groups. */
  def docs(seed: Long, n: Int, len: Int = 60): IndexedSeq[Doc] = {
    val r = rng(seed, 4)
    def tok(): String = f"t${r.nextInt(50000)}%05d"
    val out = new scala.collection.mutable.ArrayBuffer[Doc](n)
    for (i <- 0 until n) {
      if (i > 0 && r.nextInt(5) == 0) {
        val base = out(r.nextInt(i))
        val text = if (r.nextBoolean()) base.text
                   else base.text.substring(0, base.text.lastIndexOf(' ') + 1) + tok()
        out += Doc(i.toLong, text, base.group)
      } else out += Doc(i.toLong, Seq.fill(len)(tok()).mkString(" "), i.toLong)
    }
    out.toIndexedSeq
  }

  private def write(spark: SparkSession, dir: String, table: String,
                    schema: StructType, rows: Seq[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(s"$dir/$table.parquet")

  def writePersons(spark: SparkSession, dir: String, ps: Seq[Person]): Unit =
    write(spark, dir, "customer", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
      ps.map(p => Row(p.key.toLong, p.name, p.nation, p.acctbal, p.house)))

  def writeVectors(spark: SparkSession, dir: String, vs: Seq[Vec]): Unit =
    write(spark, dir, "embeddings", StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))),
      vs.map(v => Row(v.id, v.v.toSeq, v.label)))

  val OrderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType)))

  def orderRow(o: Order): Row = Row(o.key, o.cust, o.status, o.price, o.date, o.priority)

  def writeDocs(spark: SparkSession, dir: String, ds: Seq[Doc]): Unit =
    write(spark, dir, "documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))),
      ds.map(d => Row(d.id, d.text, "en", s"src${d.id % 20}", d.text.length.toLong)))

  /** Exactly `counts(i)` ops of kind i, in a seeded random order. */
  def deck[K](r: SplittableRandom, counts: Seq[(K, Int)]): IndexedSeq[K] = {
    val a = counts.flatMap { case (k, c) => Seq.fill(c)(k) }.toBuffer
    for (i <- a.size - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val x = a(i); a(i) = a(j); a(j) = x
    }
    a.toIndexedSeq
  }

  /** `n` distinct ints in [0, bound). */
  def distinct(r: SplittableRandom, n: Int, bound: Int): Seq[Int] = {
    val s = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (s.size < n) s += r.nextInt(bound)
    s.toSeq
  }
}

package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** The tables the pipeline ops read (`documents`, `embeddings`,
  * `customer`, `supplier`), generated in the shape of the repo's sf0.x
  * test tables: 30-word vocabulary texts of 10-100 words, 5% near-copies
  * of an earlier text with " dup" appended, 20 round-robin sources, 64-d
  * unit embeddings with 10 labels. One fixed generator seed: the tables
  * are a fixed input, like the skewed corpus. */
object SynthTables {
  final case class Size(docs: Int, vecs: Int, customers: Int,
                        suppliers: Int)
  /** Row counts of sf0.1 and sf0.001. */
  val Sf01 = Size(5000, 2000, 15000, 1000)
  val Sf0001 = Size(500, 500, 150, 10)

  private val Seed = 42L
  private val Vocab = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line " +
    "part fast row the agg key query a scan batch").split(" ")
  private val Langs = Array("en", "en", "en", "zh", "es", "fr", "de")
  private val Segments =
    Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  private def rnd(table: Int, i: Int) =
    new SplittableRandom(Seed * 1000003L + table * 7919L + i)

  final case class DocRow(doc_id: Long, text: String, lang: String,
                          source: String, n_chars: Long)
  final case class VecRow(vec_id: Long, embedding: Array[Float], label: Int)
  final case class CustRow(c_custkey: Long, c_name: String, c_nationkey: Int,
                           c_acctbal: Double, c_mktsegment: String)
  final case class SuppRow(s_suppkey: Long, s_name: String, s_nationkey: Int,
                           s_acctbal: Double)

  def docs(n: Int): Seq[DocRow] = {
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val r = rnd(1, i)
      texts(i) =
        if (i > 0 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
        else Array.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length)))
          .mkString(" ")
      DocRow(i, texts(i), Langs(r.nextInt(Langs.length)), s"src${i % 20}",
        texts(i).length)
    }
  }

  def vecs(n: Int): Seq[VecRow] = (0 until n).map { i =>
    val r = rnd(2, i)
    val v = Array.fill(64)(gauss(r))
    val norm = math.sqrt(v.map(x => x * x).sum)
    VecRow(i, v.map(x => (x / norm).toFloat), r.nextInt(10))
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller from two uniforms in (0, 1]
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def write(spark: SparkSession, dir: String, size: Size): Unit = {
    import spark.implicits._
    def save(ds: org.apache.spark.sql.Dataset[_], name: String): Unit =
      ds.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    save(docs(size.docs).toDS(), "documents")
    save(vecs(size.vecs).toDS(), "embeddings")
    save((0 until size.customers).map { i =>
      val r = rnd(3, i)
      CustRow(i, f"Customer#$i%09d", r.nextInt(25),
        math.rint(r.nextDouble() * 1000000) / 100, Segments(r.nextInt(5)))
    }.toDS(), "customer")
    save((0 until size.suppliers).map { i =>
      val r = rnd(4, i)
      SuppRow(i, f"Supplier#$i%09d", r.nextInt(25),
        math.rint(r.nextDouble() * 1000000) / 100)
    }.toDS(), "supplier")
  }
}

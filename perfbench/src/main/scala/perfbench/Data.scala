package perfbench

import java.util.SplittableRandom

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser

/** Seeded synthetic dataset with the shape of the engine's scale-factor
  * directories: the tables `Triples.build`, `Tables.documents` and
  * `Tables.embeddings` read, with the same column names and types.
  *
  * Sizes follow TPC-H at scale `sf`: 150 000·sf customers, 1 500 000·sf
  * orders, 25 nations, 5 regions; 50 000·sf documents of 10–100 words
  * from a small vocabulary; 20 000·sf unit-norm 64-d vectors around ten
  * labelled centres. The same (seed, sf) always writes the same rows.
  *
  * The files are written with parquet's own writer, not Spark, so that
  * generation can run while the Spark session starts.
  */
object Data {

  val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
    "MACHINERY")
  val Statuses = Array("F", "O", "P")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
    "5-LOW")
  val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Vocab: Array[String] = ("a the data query scan sort hash join group " +
    "filter window stream batch spark table column row key value order " +
    "customer part line agg merge vector index fast slow big small time " +
    "event user page text word model cache shard").split(" ")
  val Langs = Array("en", "en", "en", "zh", "es", "fr", "de")
  val Dim = 64
  /** Files per table, so scans split as they would over Spark output. */
  val Parts = 4

  case class Sizes(customers: Int, orders: Int, documents: Int,
      vectors: Int)

  /** What the benchmark keeps in memory to draw inputs and check answers:
    * per-customer segment and nation, document texts, vectors, and a
    * SHA-256 of every generated row. */
  case class Corpus(sizes: Sizes, custSeg: Array[Int], custNation: Array[Int],
      docs: Array[String], vectors: Array[Array[Float]], digest: String)

  def sizes(sf: Double): Sizes = Sizes(
    math.max(50, (150000 * sf).round.toInt),
    math.max(500, (1500000 * sf).round.toInt),
    math.max(50, (50000 * sf).round.toInt),
    math.max(40, (20000 * sf).round.toInt))

  /** A document's text: `n` words drawn from [[Vocab]]. */
  def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(Vocab(r.nextInt(Vocab.length)))

  private val Schemas = Map(
    "region" -> "optional int32 r_regionkey; optional binary r_name (STRING);",
    "nation" -> ("optional int32 n_nationkey; optional binary n_name (STRING);" +
      " optional int32 n_regionkey;"),
    "customer" -> ("optional int64 c_custkey; optional binary c_name (STRING);" +
      " optional int32 c_nationkey; optional double c_acctbal;" +
      " optional binary c_mktsegment (STRING);"),
    "orders" -> ("optional int64 o_orderkey; optional int64 o_custkey;" +
      " optional binary o_orderstatus (STRING); optional double o_totalprice;" +
      " optional int64 o_orderdate (TIMESTAMP(MICROS,true));" +
      " optional binary o_orderpriority (STRING);"),
    "documents" -> ("optional int64 doc_id; optional binary text (STRING);" +
      " optional binary lang (STRING); optional binary source (STRING);" +
      " optional int64 n_chars;"),
    "embeddings" -> ("optional int64 vec_id; optional group embedding (LIST)" +
      " { repeated group list { optional float element; } }" +
      " optional int32 label;"))

  /** Write the named tables as `<dir>/<name>.parquet`; the digest covers
    * exactly the rows written. */
  def write(dir: String, seed: Long, sf: Double,
      tables: Set[String]): Corpus = {
    val sz = sizes(sf)
    val root = new SplittableRandom(seed)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val conf = new Configuration()
    /** `fill(group, i)` sets row i's fields; every row is also digested. */
    def put(name: String, rows: Int)(fill: (Group, Int) => Unit): Unit =
      if (tables(name)) {
        val schema = MessageTypeParser.parseMessageType(
          s"message $name { ${Schemas(name)} }")
        val groups = new SimpleGroupFactory(schema)
        val writers = (0 until Parts).map(p =>
          ExampleParquetWriter.builder(
            new Path(f"$dir/$name.parquet/part-$p%05d.parquet"))
            .withConf(conf).withType(schema)
            .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
            .withCompressionCodec(CompressionCodecName.SNAPPY).build())
        md.update(name.getBytes("UTF-8"))
        (0 until rows).foreach { i =>
          val g = groups.newGroup()
          fill(g, i)
          md.update(g.toString.getBytes("UTF-8"))
          writers(i * Parts / rows).write(g)
        }
        writers.foreach(_.close())
      }

    put("region", Regions.length) { (g, i) =>
      g.append("r_regionkey", i).append("r_name", Regions(i)) }
    put("nation", 25) { (g, i) =>
      g.append("n_nationkey", i).append("n_name", s"NATION_$i")
        .append("n_regionkey", i % 5) }

    val rc = root.split()
    val custNation = Array.fill(sz.customers)(rc.nextInt(25))
    val custSeg = Array.fill(sz.customers)(rc.nextInt(Segments.length))
    put("customer", sz.customers) { (g, i) =>
      g.append("c_custkey", i.toLong).append("c_name", f"Customer#$i%09d")
        .append("c_nationkey", custNation(i))
        .append("c_acctbal", rc.nextInt(1099999) / 100.0 - 999.99)
        .append("c_mktsegment", Segments(custSeg(i))) }

    val ro = root.split()
    val day0 = java.time.Instant.parse("1992-01-01T00:00:00Z").getEpochSecond
    put("orders", sz.orders) { (g, i) =>
      g.append("o_orderkey", i.toLong)
        .append("o_custkey", ro.nextInt(sz.customers).toLong)
        .append("o_orderstatus", Statuses(ro.nextInt(3)))
        .append("o_totalprice", ro.nextInt(50000000) / 100.0)
        .append("o_orderdate", (day0 + ro.nextInt(3650) * 86400L) * 1000000L)
        .append("o_orderpriority", Priorities(ro.nextInt(5))) }

    val rd = root.split()
    val docs = Array.fill(sz.documents)(words(rd, 10 + rd.nextInt(91))
      .mkString(" "))
    put("documents", sz.documents) { (g, i) =>
      g.append("doc_id", i.toLong).append("text", docs(i))
        .append("lang", Langs(rd.nextInt(Langs.length)))
        .append("source", s"src${i % 5}")
        .append("n_chars", docs(i).length.toLong) }

    val rv = root.split()
    val centres = Array.fill(10)(unit(Array.fill(Dim)(rv.nextGaussian())))
    val labels = Array.fill(sz.vectors)(rv.nextInt(10))
    val vectors = labels.map(l =>
      unit(centres(l).map(_ + 0.1 * rv.nextGaussian())).map(_.toFloat))
    put("embeddings", sz.vectors) { (g, i) =>
      g.append("vec_id", i.toLong)
      val list = g.addGroup("embedding")
      vectors(i).foreach(x => list.addGroup("list").append("element", x))
      g.append("label", labels(i)) }

    Corpus(sz, custSeg, custNation, docs, vectors,
      md.digest().map("%02x".format(_)).mkString)
  }

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
}

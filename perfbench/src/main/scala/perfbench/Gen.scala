package perfbench

import java.util.SplittableRandom

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Seeded star-schema tables in the layout `graft.graph.GraphFixture` reads
  * (the TPC-H-shaped `region nation customer supplier part orders lineitem
  * events` parquet set), at `sf` times the TPC-H row counts. The same seed
  * always yields the same tables; the benchmark hands the program only the
  * written files, never these arrays. */
final class Tables(val sf: Double, seed: Long) {
  private val rnd = new SplittableRandom(seed)
  private def n(base: Double): Int = math.max(1, math.round(base * sf).toInt)
  private def cents(lo: Double, hi: Double): Double =
    math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0

  val nRegion = 5
  val nNation = 25
  val nationRegion: Array[Int] = Array.tabulate(nNation)(_ % nRegion)

  val nCust: Int = n(150000)
  val custNation: Array[Int] = Array.fill(nCust)(rnd.nextInt(nNation))
  val custBal: Array[Double] = Array.fill(nCust)(cents(-999.99, 9999.99))

  val nSupp: Int = n(10000)
  val suppNation: Array[Int] = Array.fill(nSupp)(rnd.nextInt(nNation))
  val suppBal: Array[Double] = Array.fill(nSupp)(cents(-999.99, 9999.99))

  val nPart: Int = n(200000)
  val partPrice: Array[Double] = Array.tabulate(nPart)(k => 900.0 + (k % 1000) / 10.0)

  val nOrder: Int = n(1500000)
  val orderCust: Array[Int] = Array.fill(nOrder)(rnd.nextInt(nCust))
  val orderStatus: Array[String] = Array.fill(nOrder)(Tables.Status(rnd.nextInt(3)))
  val orderPrice: Array[Double] = Array.fill(nOrder)(cents(1000, 500000))

  // 1..7 lines per order (TPC-H's range); part and supplier uniform
  private val lines: Array[Int] = Array.fill(nOrder)(1 + rnd.nextInt(7))
  val liOrder: Array[Int] = lines.zipWithIndex.flatMap { case (k, o) => Array.fill(k)(o) }
  val liPart: Array[Int] = Array.fill(liOrder.length)(rnd.nextInt(nPart))
  val liSupp: Array[Int] = Array.fill(liOrder.length)(rnd.nextInt(nSupp))
  val liQty: Array[Double] = Array.fill(liOrder.length)((1 + rnd.nextInt(50)).toDouble)

  val nUser: Int = n(15000)
  val nEvent: Int = n(1000000)
  val evUser: Array[Int] = Array.fill(nEvent)(rnd.nextInt(nUser))
  val evType: Array[String] = Array.fill(nEvent)(Tables.EventTypes(rnd.nextInt(5)))
  val evValue: Array[Double] = Array.fill(nEvent)(cents(0.01, 300))
  private val evTs: Array[Long] =
    Array.tabulate(nEvent)(i => Tables.Epoch2024 + i * 240000000L + rnd.nextInt(1000000))

  /** Write the eight tables as one parquet file each under `dir`, with the
    * plain parquet writer: no Spark job touches the inputs. */
  def write(dir: String): Unit = {
    def put(name: String, fields: String, rows: Int)(fill: (Group, Int) => Unit): Unit = {
      val schema = MessageTypeParser.parseMessageType(s"message $name { $fields }")
      val out = java.nio.file.Paths.get(dir, s"$name.parquet", "part-00000.parquet")
      java.nio.file.Files.createDirectories(out.getParent)
      val w = ExampleParquetWriter.builder(new LocalOutputFile(out)).withType(schema).build()
      val groups = new SimpleGroupFactory(schema)
      try for (i <- 0 until rows) { val g = groups.newGroup(); fill(g, i); w.write(g) }
      finally w.close()
    }
    put("region", "required int32 r_regionkey; required binary r_name (STRING);", nRegion) {
      (g, k) => g.append("r_regionkey", k).append("r_name", s"REGION_$k")
    }
    put("nation", "required int32 n_nationkey; required binary n_name (STRING); " +
      "required int32 n_regionkey;", nNation) {
      (g, k) => g.append("n_nationkey", k).append("n_name", s"NATION_$k")
        .append("n_regionkey", nationRegion(k))
    }
    put("customer", "required int64 c_custkey; required binary c_name (STRING); " +
      "required int32 c_nationkey; required double c_acctbal;", nCust) {
      (g, k) => g.append("c_custkey", k.toLong).append("c_name", f"Customer#$k%09d")
        .append("c_nationkey", custNation(k)).append("c_acctbal", custBal(k))
    }
    put("supplier", "required int64 s_suppkey; required binary s_name (STRING); " +
      "required int32 s_nationkey; required double s_acctbal;", nSupp) {
      (g, k) => g.append("s_suppkey", k.toLong).append("s_name", f"Supplier#$k%09d")
        .append("s_nationkey", suppNation(k)).append("s_acctbal", suppBal(k))
    }
    put("part", "required int64 p_partkey; required binary p_name (STRING); " +
      "required double p_retailprice;", nPart) {
      (g, k) => g.append("p_partkey", k.toLong).append("p_name", s"part $k")
        .append("p_retailprice", partPrice(k))
    }
    put("orders", "required int64 o_orderkey; required int64 o_custkey; " +
      "required binary o_orderstatus (STRING); required double o_totalprice;", nOrder) {
      (g, k) => g.append("o_orderkey", k.toLong).append("o_custkey", orderCust(k).toLong)
        .append("o_orderstatus", orderStatus(k)).append("o_totalprice", orderPrice(k))
    }
    put("lineitem", "required int64 l_orderkey; required int64 l_partkey; " +
      "required int64 l_suppkey; required double l_quantity;", liOrder.length) {
      (g, i) => g.append("l_orderkey", liOrder(i).toLong).append("l_partkey", liPart(i).toLong)
        .append("l_suppkey", liSupp(i).toLong).append("l_quantity", liQty(i))
    }
    put("events", "required int64 event_id; required int64 ts (TIMESTAMP(MICROS,true)); " +
      "required int64 user_id; required binary event_type (STRING); required double value;",
      nEvent) {
      (g, i) => g.append("event_id", i.toLong).append("ts", evTs(i))
        .append("user_id", evUser(i).toLong).append("event_type", evType(i))
        .append("value", evValue(i))
    }
  }
}

object Tables {
  private val Status = Array("F", "O", "P")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val Epoch2024 = 1704067200000000L // 2024-01-01T00:00:00Z in micros
}

/** The property graph the fixture must build from [[Tables]], derived here
  * independently of the engine: label-tagged vertex ids
  * (tag · 10^12 + key) and the eight edge families. Vertices are dense
  * indices into `ids`; edges are parallel arrays over those indices. */
final class Expected(t: Tables) {
  import Expected._

  private val idBuf = scala.collection.mutable.ArrayBuffer.empty[Long]
  private val labelBuf = scala.collection.mutable.ArrayBuffer.empty[Byte]
  private val valBuf = scala.collection.mutable.ArrayBuffer.empty[Double]
  private def addVertices(tag: Int, keys: Int, value: Int => Double): Int = {
    val first = idBuf.length
    for (k <- 0 until keys) { idBuf += vid(tag, k); labelBuf += tag.toByte; valBuf += value(k) }
    first
  }
  val region: Int = addVertices(1, t.nRegion, _ => Double.NaN)
  val nation: Int = addVertices(2, t.nNation, _ => Double.NaN)
  val customer: Int = addVertices(3, t.nCust, t.custBal(_))
  val supplier: Int = addVertices(4, t.nSupp, t.suppBal(_))
  val part: Int = addVertices(5, t.nPart, t.partPrice(_))
  val order: Int = addVertices(6, t.nOrder, t.orderPrice(_))
  private val users = t.evUser.distinct.sorted
  val user: Int = idBuf.length
  for (u <- users) { idBuf += vid(7, u); labelBuf += 7; valBuf += Double.NaN }
  val event: Int = addVertices(8, t.nEvent, t.evValue(_))

  val ids: Array[Long] = idBuf.toArray
  val vlabel: Array[Byte] = labelBuf.toArray
  val vval: Array[Double] = valBuf.toArray
  val index: java.util.HashMap[java.lang.Long, Integer] = {
    val m = new java.util.HashMap[java.lang.Long, Integer](ids.length * 2)
    ids.indices.foreach(i => m.put(ids(i), i))
    m
  }
  def ix(id: Long): Int = index.get(id)

  val baseEdges: EdgeList = {
    val e = new EdgeList
    for (c <- 0 until t.nCust) e.add(customer + c, nation + t.custNation(c), InNation)
    for (s <- 0 until t.nSupp) e.add(supplier + s, nation + t.suppNation(s), InNation)
    for (k <- 0 until t.nNation) e.add(nation + k, region + t.nationRegion(k), InRegion)
    for (o <- 0 until t.nOrder) e.add(order + o, customer + t.orderCust(o), By)
    val li = t.liOrder.indices
    li.map(i => (t.liOrder(i), t.liPart(i))).distinct
      .foreach { case (o, p) => e.add(order + o, part + p, Contains) }
    li.map(i => (t.liPart(i), t.liSupp(i))).distinct
      .foreach { case (p, s) => e.add(part + p, supplier + s, SuppliedBy) }
    for (c <- 0 until t.nCust; s <- 0 until t.nSupp
         if t.custNation(c) == t.suppNation(s) && c % 10 == s % 10)
      e.add(customer + c, supplier + s, Colocated)
    for (i <- 0 until t.nEvent)
      e.add(user + java.util.Arrays.binarySearch(users, t.evUser(i)), event + i, Did)
    e
  }

  def labelOf(v: Int): String = VertexLabels(vlabel(v))
}

object Expected {
  val B = 1000000000000L
  def vid(tag: Int, key: Int): Long = tag * B + key

  val VertexLabels: Array[String] = Array("", "region", "nation", "customer",
    "supplier", "part", "order", "user", "event")

  // edge label codes
  val InNation: Byte = 0
  val InRegion: Byte = 1
  val By: Byte = 2
  val Contains: Byte = 3
  val SuppliedBy: Byte = 4
  val Colocated: Byte = 5
  val Did: Byte = 6
  val Trades: Byte = 7
  val EdgeLabels: Array[String] = Array("in_nation", "in_region", "by", "contains",
    "supplied_by", "colocated", "did", "trades")
  def labelCode(l: String): Byte = EdgeLabels.indexOf(l).toByte
}

/** Growable edge list over dense vertex indices (src, dst, label code). */
final class EdgeList {
  private var n = 0
  var src: Array[Int] = new Array[Int](1024)
  var dst: Array[Int] = new Array[Int](1024)
  var lbl: Array[Byte] = new Array[Byte](1024)
  def size: Int = n
  def add(s: Int, d: Int, l: Byte): Unit = {
    if (n == src.length) {
      src = java.util.Arrays.copyOf(src, n * 2)
      dst = java.util.Arrays.copyOf(dst, n * 2)
      lbl = java.util.Arrays.copyOf(lbl, n * 2)
    }
    src(n) = s; dst(n) = d; lbl(n) = l; n += 1
  }
  def copy(): EdgeList = {
    val e = new EdgeList
    e.src = java.util.Arrays.copyOf(src, math.max(n, 1))
    e.dst = java.util.Arrays.copyOf(dst, math.max(n, 1))
    e.lbl = java.util.Arrays.copyOf(lbl, math.max(n, 1))
    e.n = n
    e
  }
}

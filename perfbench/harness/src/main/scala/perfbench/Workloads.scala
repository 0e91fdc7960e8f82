package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types._

/** One sampled request. `run` executes it and returns its output row
  * count. A commit names itself, the tables it changes (listed around it
  * in a traced run) and the rows it affects. */
final case class Op(kind: String, run: () => Long,
    changes: Option[(String, () => Seq[String], Long)] = None)

/** Verification outcome over the window's ops. */
final case class Verdict(failed: Int, notes: Seq[String])

abstract class Workload(val ctx: Ctx) {
  def spark: org.apache.spark.sql.SparkSession = ctx.spark

  /** Builds the workload's graft tables and fixtures into namespace `ns`. */
  def setup(ns: String): Unit
  /** The graft tables in namespace `ns`, and the directories holding
    * them (for `storage_amp`). */
  def tables(ns: String): Seq[String]
  def storageDirs(ns: String): Seq[String] = Seq(s"${ctx.runDir}/warehouse/$ns")
  /** The corpus table a graft table holds an unchanged copy of, if any:
    * its stock-parquet reference size is then a function of the corpus. */
  def corpusCopy(table: String): Option[String] = None
  /** Sampled ops per run for `--seconds`: a fixed count, not a time box. */
  def opCount(seconds: Int): Int
  /** Warm-up: ops per batch, and the most batches before giving up on
    * latency levelling. */
  def warmup: (Int, Int)
  def prepare(ns: String, rnd: Random, i: Int, sampled: Boolean): Op
  /** Unsampled work run inside the window after `done` sampled ops. */
  def maintenance(ns: String, done: Int): Option[() => Unit] = None
  def verify(ns: String): Verdict
  /** Extra per-layer metrics the workload measures itself. */
  def layer: Map[String, Double] = Map.empty
  /** Extra output for the checker (files the oracle step reads). */
  def report: Map[String, Any] = Map.empty

  protected def collect(q: String): Array[Row] = ctx.sql(q).collect()

  /** Corpus tables the workload reads as `raw_<table>` views. */
  def corpus: Seq[String] = Nil
  /** Untimed, before the first setup. */
  def prime(): Unit = ()

  protected lazy val maxOrderKey: Long =
    spark.sql("SELECT max(o_orderkey) FROM raw_orders").head().getLong(0)

  /** Loads corpus table `t` as `appends` commits of consecutive order-key
    * ranges (a CTAS, then INSERTs), as a table filled over time would be:
    * each range lands in its own files, so file pruning has files to prune. */
  protected def loadAppends(ns: String, t: String, key: String, appends: Int, as: String = ""): Unit = {
    val target = s"graft.$ns.${if (as.isEmpty) t else as}"
    val step = maxOrderKey / appends + 1
    (0 until appends).foreach { k =>
      val where = s"WHERE $key >= ${k * step} AND $key < ${(k + 1) * step}"
      ctx.changing("commit", s"append.$t", Seq(target)) {
        ctx.sql(if (k == 0) s"CREATE TABLE $target AS SELECT * FROM raw_$t $where"
          else s"INSERT INTO $target SELECT * FROM raw_$t $where")
      }
    }
  }
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "lookup" => new Lookup(ctx)
    case "ingest_mutate" => new IngestMutate(ctx)
    case "gate_mix" => new GateMix(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def sameRows(a: Seq[Row], b: Seq[Row], ordered: Boolean): Boolean = {
    val (x, y) = (Ctx.render(a), Ctx.render(b))
    if (ordered) x == y else x.sorted == y.sorted
  }
}

/** Seeded order-range fetches: the orders rows of a key range and their
  * lineitems, primitive columns only, from tables loaded as key-range
  * appends so that file pruning has files to prune. Planning, catalog
  * and pruning dominate; executors do little. */
final class Lookup(ctx: Ctx) extends Workload(ctx) {
  private val width = 200 // order keys per fetch
  private val specs = Seq( // table, key, appends, columns
    ("orders", "o_orderkey", 2, "o_orderkey, o_custkey, o_totalprice"),
    ("lineitem", "l_orderkey", 4,
      "l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount"))
  // (lo, hi, rows of each spec) per sampled op
  private val sampled = ArrayBuffer[(Long, Long, Seq[Seq[Row]])]()

  def setup(ns: String): Unit = {
    ctx.sql(s"CREATE NAMESPACE graft.$ns")
    specs.foreach { case (t, key, appends, _) => loadAppends(ns, t, key, appends) }
  }

  override def corpus: Seq[String] = specs.map(_._1)
  override def prime(): Unit = maxOrderKey
  def tables(ns: String): Seq[String] = specs.map(s => s"graft.$ns.${s._1}")
  override def corpusCopy(table: String): Option[String] = Some(table.split('.').last)
  def opCount(seconds: Int): Int = seconds * 8
  def warmup: (Int, Int) = (15, 3)

  def prepare(ns: String, rnd: Random, i: Int, isSampled: Boolean): Op = {
    val lo = (rnd.nextDouble() * (maxOrderKey - width)).toLong
    val hi = lo + width - 1
    Op("fetch", () => {
      val rows = specs.map { case (t, key, _, cols) =>
        collect(s"SELECT $cols FROM graft.$ns.$t WHERE $key BETWEEN $lo AND $hi").toSeq
      }
      if (isSampled) sampled += ((lo, hi, rows))
      rows.map(_.size.toLong).sum
    })
  }

  /** One stock-parquet range join per table recomputes every op's rows. */
  def verify(ns: String): Verdict = {
    val ranges = spark.createDataFrame(sampled.zipWithIndex.map { case ((lo, hi, _), op) =>
      (op, lo, hi) }.toSeq).toDF("op", "lo", "hi")
    val expected = specs.map { case (t, key, _, cols) =>
      spark.table(s"raw_$t").join(broadcast(ranges), col(key).between(col("lo"), col("hi")))
        .selectExpr(("op" +: cols.split(",").map(_.trim).toSeq): _*)
        .collect().groupBy(_.getInt(0))
        .map { case (op, rs) => op -> rs.toSeq.map(r => Row.fromSeq(r.toSeq.tail)) }
    }
    val failed = sampled.zipWithIndex.count { case ((_, _, got), op) =>
      got.zip(expected).exists { case (g, e) => !Workload.sameRows(g, e.getOrElse(op, Nil), ordered = false) }
    }
    Verdict(failed, Nil)
  }
}

/** Seeded CDC batches applied by MERGE to a copy-on-write copy of
  * orders, with OPTIMIZE and VACUUM every few batches inside the window.
  * The only workload that commits. */
final class IngestMutate(ctx: Ctx) extends Workload(ctx) {
  private val appends = 6
  private val batchRows = 200
  private val maintEvery = 4
  private val hotKeys = 30000L // updates and deletes hit the newest keys
  private val schema = StructType.fromDDL(
    "op STRING, o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING")
  // the harness's model of the table: key -> row (without the op column)
  private val model = mutable.HashMap[Long, Row]()
  private var nextKey = 0L
  private var sampledOps = 0
  private var lastNs = ""

  def setup(ns: String): Unit = {
    ctx.sql(s"CREATE NAMESPACE graft.$ns")
    loadAppends(ns, "orders", "o_orderkey", appends, as = "orders_cdc")
  }

  override def corpus: Seq[String] = Seq("orders")
  override def prime(): Unit = maxOrderKey
  def tables(ns: String): Seq[String] = Seq(s"graft.$ns.orders_cdc")
  def opCount(seconds: Int): Int = seconds * maintEvery
  def warmup: (Int, Int) = (maintEvery, 2)

  private def initModel(ns: String): Unit = if (lastNs != ns) {
    lastNs = ns
    model.clear()
    spark.table("raw_orders").collect().foreach(r => model(r.getLong(0)) = r)
    nextKey = model.keysIterator.max + 1
  }

  private def batch(rnd: Random): Seq[Row] = {
    val touched = mutable.HashSet[Long]()
    val out = ArrayBuffer[Row]()
    val statuses = Seq("O", "F", "P")
    while (out.size < batchRows) {
      val kind = rnd.nextInt(10)
      if (kind < 2) { // insert a new order
        val k = nextKey; nextKey += 1
        val day = java.time.LocalDateTime.of(2001, 1, 1, 0, 0).plusDays(rnd.nextInt(200).toLong)
        out += Row("I", k, 1L + rnd.nextInt(15000), "O",
          math.round(rnd.nextDouble() * 1e7) / 100.0, day, s"${1 + rnd.nextInt(5)}-CDC")
        touched += k
      } else {
        val k = nextKey - 1 - (rnd.nextDouble() * hotKeys).toLong
        if (model.contains(k) && !touched(k)) {
          touched += k
          val r = model(k)
          out += (if (kind < 4) Row.fromSeq("D" +: r.toSeq)
          else Row("U", k, r.getLong(1), statuses(rnd.nextInt(3)),
            math.round(rnd.nextDouble() * 1e7) / 100.0, r.get(4), r.getString(5)))
        }
      }
    }
    out.toSeq
  }

  def prepare(ns: String, rnd: Random, i: Int, isSampled: Boolean): Op = {
    initModel(ns)
    val rows = batch(rnd)
    rows.foreach { r =>
      val k = r.getLong(1)
      if (r.getString(0) == "D") model.remove(k) else model(k) = Row.fromSeq(r.toSeq.tail)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .createOrReplaceTempView("cdc_batch")
    val t = s"graft.$ns.orders_cdc"
    Op("merge", () => {
      ctx.sql(
        s"""MERGE INTO $t t USING cdc_batch s ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED AND s.op = 'D' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET o_orderstatus = s.o_orderstatus, o_totalprice = s.o_totalprice
           |WHEN NOT MATCHED AND s.op = 'I' THEN INSERT (o_orderkey, o_custkey, o_orderstatus,
           |  o_totalprice, o_orderdate, o_orderpriority) VALUES (s.o_orderkey, s.o_custkey,
           |  s.o_orderstatus, s.o_totalprice, s.o_orderdate, s.o_orderpriority)""".stripMargin)
      if (isSampled) sampledOps += 1
      0L
    }, Some(("merge", () => Seq(t), rows.size.toLong)))
  }

  override def maintenance(ns: String, done: Int): Option[() => Unit] =
    if (done % maintEvery != 0) None
    else Some { () =>
      val t = s"graft.$ns.orders_cdc"
      ctx.changing("maint", "optimize", Seq(t))(ctx.sql(s"OPTIMIZE $t"))
      ctx.changing("maint", "vacuum", Seq(t))(ctx.sql(s"VACUUM $t RETAIN 2 SNAPSHOTS"))
    }

  /** The committed table, read through a fresh session, must hold
    * exactly the model's rows; a mismatch fails every sampled op (none
    * can be singled out). */
  def verify(ns: String): Verdict = {
    val got = spark.newSession().table(s"graft.$ns.orders_cdc").collect()
    val ok = Workload.sameRows(got.toSeq, model.values.toSeq, ordered = false)
    Verdict(if (ok) 0 else sampledOps,
      if (ok) Nil else Seq(s"final table differs from the model (${got.length} vs ${model.size} rows)"))
  }
}

/** Oracle-checked gates from the self-join family and index serving,
  * reached through `SparkEntry.allDefs`. Setup runs each gate's fixture
  * and then the gate once, untimed, which fills memos and builds indexes;
  * a sampled op is one pass over the list. */
final class GateMix(ctx: Ctx) extends Workload(ctx) {
  private lazy val defs = GateMix.gates.map { g =>
    graft.SparkEntry.allDefs.find(_.name.startsWith(s"${g}_"))
      .getOrElse(throw new IllegalStateException(s"gate $g not found"))
  }
  private val gateMs = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  private val first = mutable.Map[String, (StructType, Seq[Row])]()
  private var mismatched = 0 // sampled passes that differ from the first

  def setup(ns: String): Unit = defs.foreach { d =>
    ctx.changing("commit", s"gate.${d.name.takeWhile(_ != '_')}", tables(ns)) {
      d.setup.foreach(_(spark, ctx.sfDir))
      d.run(spark, ctx.sfDir).collect()
    }
    // known as soon as a gate registers its catalog, so the runner can
    // remove these warehouses even if the run dies later
    Files.writeString(Paths.get(ctx.runDir, "gate_warehouses.txt"),
      gateCatalogs.map(_._2).mkString("", "\n", "\n"))
  }

  /** Graft catalogs the gates registered themselves (name -> warehouse). */
  private def gateCatalogs: Seq[(String, String)] = spark.conf.getAll.toSeq.collect {
    case (k, "graft.sources.GraftCatalog") if k.count(_ == '.') == 3 && k != "spark.sql.catalog.graft" =>
      val c = k.stripPrefix("spark.sql.catalog.")
      c -> spark.conf.get(s"$k.warehouse")
  }.sorted

  /** (catalog.namespace, directory) of every namespace the gates use. */
  private def gateNamespaces: Seq[(String, String)] = gateCatalogs.flatMap { case (c, wh) =>
    spark.sql(s"SHOW NAMESPACES IN $c").collect().toSeq
      .map(r => (s"$c.${r.getString(0)}", s"$wh/${r.getString(0)}"))
  }

  def tables(ns: String): Seq[String] = gateNamespaces.flatMap(n => ctx.tablesIn(n._1))
  override def storageDirs(ns: String): Seq[String] = gateNamespaces.map(_._2)
  def opCount(seconds: Int): Int = math.max(2, seconds / 2)
  def warmup: (Int, Int) = (1, 1)

  def prepare(ns: String, rnd: Random, i: Int, isSampled: Boolean): Op = {
    Op("pass", () => {
      var n = 0L
      var differs = false
      defs.foreach { d =>
        val t0 = System.nanoTime()
        val df = d.run(spark, ctx.sfDir)
        val rows = df.collect().toSeq
        if (ctx.tracing) ctx.pending += df
        val ms = (System.nanoTime() - t0) / 1e6
        if (isSampled) {
          gateMs.getOrElseUpdate(d.name, ArrayBuffer()) += ms
          first.get(d.name) match {
            case None => first(d.name) = (df.schema, rows)
            case Some((_, ref)) => differs ||= !Workload.sameRows(rows, ref, ordered = true)
          }
        }
        n += rows.size
      }
      if (differs) mismatched += 1
      n
    })
  }

  /** Passes must agree with the first; the first pass's results are
    * written as parquet for the DuckDB oracle compare that follows. */
  def verify(ns: String): Verdict = {
    first.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(s"${ctx.runDir}/gates/$name")
    }
    Verdict(mismatched, Nil)
  }

  override def layer: Map[String, Double] = gateMs.map { case (n, ms) =>
    s"gate.${n.takeWhile(_ != '_')}_ms" -> Stats.median(ms.toSeq)
  }.toMap

  override def report: Map[String, Any] = Map(
    "gate_dir" -> s"${ctx.runDir}/gates",
    "oracle" -> defs.flatMap(d => d.oracle.map(d.name -> _)).toMap)
}

object GateMix {
  val gates: Seq[String] = Seq("q51", "q161", "q179")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

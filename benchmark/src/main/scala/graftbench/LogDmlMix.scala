package graftbench

import graft.table.SnapshotLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** `log_dml_mix`: SQL writes beside reads on one transaction-log table
  * seeded from `orders`, all through a mounted `GraftTableCatalog` on a
  * session with `GraftExtensions` (so MERGE and UPDATE reach the log's
  * rules, and DELETE runs the planner on auto: sparse deletes commit
  * deletion vectors).
  *
  * One group is the four DML verbs in a seed-shuffled order, then
  * `compactSmall`, then [[Reads]] aggregate reads. Every DML statement touches a
  * seed-chosen key range that no earlier statement touched, so each
  * changes a fixed, non-empty number of rows. An in-memory model replays
  * the same statements on plain Scala maps, outside the timed region;
  * every read and the final table must equal it. */
object LogDmlMix {
  val SeedFiles = 8
  /** Original keys per segment; update takes one, merge half of one. */
  val SegmentRows = 1500
  val InsertRows = 1500
  val MergeNewRows = 750
  val DeleteRows = 150
  val Verbs = Seq("insert", "merge", "update", "delete")
  /** Aggregate reads after each group: the first after its commits, then
    * repeats. */
  val Reads = 5

  /** One orders row as the model keeps it (`date` in epoch millis). */
  final case class Order(custkey: Long, status: String, price: Double,
      date: Long, priority: String)

  /** A statement of the seeded stream. `lo` until `hi` are the keys it
    * touches among the original ones; `newLo` until `newHi` the fresh
    * keys it inserts. */
  final case class Stmt(verb: String, n: Int, lo: Long, hi: Long,
      newLo: Long, newHi: Long) {
    def changedRows: Long = (hi - lo) + (newHi - newLo)
  }

  private val NewDateSeconds = 1704067200L // 2024-01-01

  /** Fresh rows for keys [lo, hi) — the same values in Spark and model. */
  private def freshRows(spark: org.apache.spark.sql.SparkSession, lo: Long,
      hi: Long, status: String): DataFrame =
    spark.range(lo, hi).select(
      col("id").as("o_orderkey"),
      (col("id") % 15000 + 1).as("o_custkey"),
      lit(status).as("o_orderstatus"),
      ((col("id") % 1000).cast("double") + lit(0.25)).as("o_totalprice"),
      timestamp_seconds(lit(NewDateSeconds)).as("o_orderdate"),
      lit("3-MEDIUM").as("o_orderpriority"))

  private def freshModel(k: Long, status: String): Order =
    Order(k % 15000 + 1, status, (k % 1000).toDouble + 0.25,
      NewDateSeconds * 1000, "3-MEDIUM")

  /** The seeded statement stream, grouped by four. Each segment lies
    * inside one seeded file (`files` are the files' key ranges), and
    * consecutive segments come from different files in a seed-shuffled
    * round, so no statement meets another's rewrite or deletion vector
    * until every file has been touched once: every seed does the same
    * work per statement. */
  def groups(seed: Long, files: Seq[(Long, Long)]): Iterator[Seq[Stmt]] = {
    val rnd = new scala.util.Random(seed)
    val perFile = rnd.shuffle(files.sorted.map { case (lo, hi) =>
      rnd.shuffle((0L until (hi - lo + 1) / SegmentRows).map(j => lo + j * SegmentRows).toList)
    })
    var segs = perFile.flatMap(_.zipWithIndex).sortBy(_._2).map(_._1)
    val maxKey = files.map(_._2).max
    var fresh = (maxKey / 1000000 + 1) * 1000000 + rnd.nextInt(1000) * 1000L
    var n = 0
    def nextSeg(): Long = {
      require(segs.nonEmpty, "log_dml_mix ran out of untouched key segments")
      val s = segs.head
      segs = segs.tail
      s
    }
    def freshKeys(k: Int): (Long, Long) = {
      val lo = fresh
      fresh += k
      (lo, lo + k)
    }
    Iterator.continually {
      rnd.shuffle(Verbs).map { verb =>
        n += 1
        verb match {
          case "insert" =>
            val (a, b) = freshKeys(InsertRows)
            Stmt(verb, n, 0, 0, a, b)
          case "merge" =>
            val s = nextSeg()
            val (a, b) = freshKeys(MergeNewRows)
            Stmt(verb, n, s, s + SegmentRows / 2, a, b)
          case "update" =>
            val s = nextSeg()
            Stmt(verb, n, s, s + SegmentRows, 0, 0)
          case "delete" =>
            val s = nextSeg() + rnd.nextInt(SegmentRows - DeleteRows)
            Stmt(verb, n, s, s + DeleteRows, 0, 0)
        }
      }
    }
  }

  /** Applies `st` to the model. */
  def replay(model: mutable.Map[Long, Order], st: Stmt): Unit = st.verb match {
    case "insert" =>
      (st.newLo until st.newHi).foreach(k => model(k) = freshModel(k, "N"))
    case "merge" =>
      (st.lo until st.hi).foreach(k => model(k) = freshModel(k, "M"))
      (st.newLo until st.newHi).foreach(k => model(k) = freshModel(k, "M"))
    case "update" =>
      (st.lo until st.hi).foreach { k =>
        val o = model(k)
        model(k) = o.copy(status = "U", price = o.price + 1.0)
      }
    case "delete" =>
      (st.lo until st.hi).foreach(model.remove)
  }

  private def sql(ctx: Ctx, tbl: String, st: Stmt): Unit = {
    val spark = ctx.spark
    st.verb match {
      case "insert" =>
        freshRows(spark, st.newLo, st.newHi, "N").createOrReplaceTempView("dml_src")
        spark.sql(s"INSERT INTO $tbl SELECT * FROM dml_src")
      case "merge" =>
        freshRows(spark, st.lo, st.hi, "M")
          .unionByName(freshRows(spark, st.newLo, st.newHi, "M"))
          .createOrReplaceTempView("dml_src")
        spark.sql(
          s"""MERGE INTO $tbl t USING dml_src s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      case "update" =>
        spark.sql(s"UPDATE $tbl SET o_orderstatus = 'U', " +
          s"o_totalprice = o_totalprice + 1.0 " +
          s"WHERE o_orderkey BETWEEN ${st.lo} AND ${st.hi - 1}")
      case "delete" =>
        spark.sql(s"DELETE FROM $tbl WHERE o_orderkey BETWEEN ${st.lo} AND ${st.hi - 1}")
    }
  }

  private val ReadSql =
    "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total " +
      "FROM %s GROUP BY o_orderstatus"

  private def checkRead(rows: Array[org.apache.spark.sql.Row],
      model: mutable.Map[Long, Order], where: String): Unit = {
    val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val want = model.values.groupBy(_.status)
      .map { case (s, os) => s -> (os.size.toLong, os.map(_.price).sum) }
    val ok = got.keySet == want.keySet && want.forall { case (s, (n, total)) =>
      got(s)._1 == n && math.abs(got(s)._2 - total) <= 1e-6 * math.max(1.0, math.abs(total))
    }
    if (!ok) throw new WrongResult(s"log_dml_mix $where: read returned " +
      s"$got, the replay expects $want")
  }

  /** On-disk bytes of the named data and deletion-vector files. */
  private def bytesOf(dir: String, snap: graft.table.Snapshot, files: Iterable[String]): Long = {
    val data = Paths.get(dir, SnapshotLog.DataDirName)
    files.toSeq.distinct
      .map(f => snap.fileBytes.getOrElse(f, Files.size(data.resolve(f)))).sum
  }

  private def dvFiles(snap: graft.table.Snapshot): Set[String] = snap.dvs.values.flatten.toSet

  private def tableBytes(dir: String, snap: graft.table.Snapshot): Long =
    bytesOf(dir, snap, snap.files ++ dvFiles(snap))

  /** One seeded table, its replay model and its statement stream. */
  private final class Table(val name: String, val dir: String, val log: SnapshotLog,
      val model: mutable.Map[Long, Order], val stream: Iterator[Seq[Stmt]],
      val compactTarget: Long)

  /** Runs one group on `tb`: the four statements, `compactSmall`, then
    * the reads, each checked against the replay. Returns the group's span, its statements and,
    * when traced, the table's snapshot before and after each commit. */
  private def runGroup(ctx: Ctx, tb: Table): (Span, Seq[Stmt], Seq[graft.table.Snapshot]) = {
    val t = ctx.tracer
    val group = tb.stream.next()
    val gid = t.spans.size
    val snaps = mutable.ArrayBuffer.empty[graft.table.Snapshot]
    if (ctx.traced) snaps += tb.log.snapshot()
    t.span("group") {
      group.foreach { st =>
        ctx.attempt()
        t.span(s"table.${st.verb}")(sql(ctx, tb.name, st))
        replay(tb.model, st)
        if (ctx.traced) snaps += tb.log.snapshot()
      }
      ctx.attempt()
      t.span("table.compact")(tb.log.compactSmall(tb.compactTarget))
      if (ctx.traced) snaps += tb.log.snapshot()
      (1 to Reads).foreach { _ =>
        ctx.attempt()
        val rows = t.span("table.read")(ctx.spark.sql(ReadSql.format(tb.name)).collect())
        checkRead(rows, tb.model, s"read after statement ${group.last.n}")
      }
    }
    (t.spans(gid), group, snaps.toSeq)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    val source = spark.read.parquet(s"${ctx.dataDir}/full/orders.parquet")
    val seedModel: Map[Long, Order] = source.collect().map { r =>
      r.getLong(0) -> Order(r.getLong(1), r.getString(2), r.getDouble(3),
        r.getTimestamp(4).getTime, r.getString(5))
    }.toMap
    // set-up, three times over fresh roots: mount a catalog and seed the
    // table in SeedFiles key-ranged files (timed). The first two tables
    // then take one warm-up group each — the first is cold_run_s — so the
    // timed groups on the third run with the DML paths compiled. Set-up
    // and warm-up count toward --seconds, so a run at the benchmark's
    // run_seconds times one group.
    def setup(i: Int): (Table, Double) = {
      val t0 = System.nanoTime()
      val root = Files.createDirectories(Paths.get(ctx.workDir, s"dml-$i", "tables"))
      val cat = s"dml$i"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.table.GraftTableCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
      val dir = root.resolve("orders").toString
      val log = SnapshotLog(spark, dir, Seq("o_orderkey"))
      log.append(source.repartitionByRange(SeedFiles, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"))
      val secs = (System.nanoTime() - t0) / 1e9
      val snap = log.snapshot()
      val files = snap.files.map { f =>
        val r = snap.stats(f)("o_orderkey")
        (r.lo.toLong, r.hi.toLong)
      }
      // seeded files are well sized; only DML's small files bin-pack
      (new Table(s"$cat.orders", dir, log, mutable.HashMap.empty[Long, Order] ++= seedModel,
        groups(ctx.seed + i, files), 2 * snap.files.map(snap.fileBytes).min), secs)
    }
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val (t1, s1) = setup(1)
    val cold = runGroup(ctx, t1)._1.seconds
    val (t2, s2) = setup(2)
    runGroup(ctx, t2)
    val (tb, s3) = setup(3)
    if (ctx.traced) t.settle()
    t.forgetEvents()
    val commitS = mutable.ArrayBuffer.empty[Double]
    val dmlS = mutable.ArrayBuffer.empty[Double]
    val kindS = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val readS = mutable.ArrayBuffer.empty[Double]
    val groupS = mutable.ArrayBuffer.empty[Double]
    val coverage = mutable.ArrayBuffer.empty[Double]
    val layers = new LayerSamples
    // closed loop, one client, whole groups
    while (groupS.isEmpty || elapsed < ctx.seconds) {
      val (g, group, snaps) = runGroup(ctx, tb)
      val kids = t.children(g)
      groupS += g.seconds
      kids.foreach { k =>
        if (k.name == "table.read") readS += k.seconds
        else {
          commitS += k.seconds
          kindS.getOrElseUpdate(k.name, mutable.ArrayBuffer.empty) += k.seconds
          if (k.name != "table.compact") dmlS += k.seconds
        }
      }
      if (ctx.traced) {
        t.settle()
        coverage += kids.map(_.seconds).sum / g.seconds
        kids.zipWithIndex.foreach { case (k, i) =>
          val c = t.counters(k)
          val op = k.name.stripPrefix("table.")
          out(layers, op, k.seconds, c)
          if (op != "read") {
            // written bytes from the commit itself: the files and
            // deletion vectors it added (Spark's output metrics miss the
            // log's DSv2 writes)
            val (before, after) = (snaps(i), snaps(i + 1))
            val added = after.files.toSet -- before.files
            val written = bytesOf(tb.dir, after, added ++ (dvFiles(after) -- dvFiles(before)))
            layers.add(s"table.${op}_bytes_written", written.toDouble)
            layers.add(s"table.${op}_files_added", added.size.toDouble)
            layers.add(s"table.${op}_files_removed", (before.files.toSet -- after.files).size.toDouble)
            if (op != "compact")
              layers.add("table.bytes_written_per_changed_row",
                written.toDouble / group(i).changedRows)
          } else {
            val s = snaps.last
            layers.add("table.read_tasks", c.tasks.toDouble)
            layers.add("table.live_files", s.files.size.toDouble)
            layers.add("table.dv_files", dvFiles(s).size.toDouble)
          }
        }
        t.forgetEvents()
      }
      if (groupS.size > 200) throw new IllegalStateException("log_dml_mix: runaway loop")
    }
    // the final table equals the replay, row for row
    val got = spark.sql(s"SELECT * FROM ${tb.name}").collect().map { r =>
      r.getLong(0) -> Order(r.getLong(1), r.getString(2), r.getDouble(3),
        r.getTimestamp(4).getTime, r.getString(5))
    }
    if (got.length != tb.model.size || got.toMap != tb.model)
      throw new WrongResult(s"log_dml_mix: final table has ${got.length} rows " +
        s"(${got.toMap.size} keys), the replay has ${tb.model.size}; " +
        s"${got.count { case (k, o) => !tb.model.get(k).contains(o) }} rows differ")
    val snap = tb.log.snapshot()
    val tail = Stats.tail(dmlS.toSeq)
    val kindMedians = kindS.map { case (k, vs) => k -> Stats.median(vs.toSeq) }
    Outcome(ctx.attempts, Seq(s1, s2, s3),
      e2e = Map("cold_run_s" -> cold,
        "op_p50_s" -> Stats.geomean(kindMedians.values.toSeq),
        "op_mean_s" -> Stats.mean(commitS.toSeq),
        "query_geomean_s" -> Stats.median(readS.toSeq)),
      named = kindMedians.map { case (k, m) => s"${k}_p50_s" -> m }.toMap ++ Map(
        "commit_p50_s" -> Stats.median(dmlS.toSeq),
        "commit_tail_s" -> tail.map(_._2).getOrElse(Double.NaN),
        "commit_tail_percentile" -> tail.map(_._1.toDouble).getOrElse(Double.NaN),
        "read_p50_s" -> Stats.median(readS.toSeq),
        "table_bytes_per_row" -> tableBytes(tb.dir, snap).toDouble / snap.rows,
        "live_rows" -> snap.rows.toDouble,
        "dv_files_pending" -> dvFiles(snap).size.toDouble),
      layers = layers.medians, coverage = coverage.toSeq,
      notes = Map("timed_groups" -> groupS.size.toString,
        "compact_target_bytes" -> tb.compactTarget.toString,
        "commits" -> commitS.size.toString))
  }

  private def out(layers: LayerSamples, op: String, s: Double, c: Counters): Unit = {
    layers.add(s"table.${op}_s", s)
    if (op != "read") {
      layers.add(s"table.${op}_jobs", c.jobs.toDouble)
      layers.add(s"plans.${op}_plan_s", c.planMs / 1e3)
    }
  }
}

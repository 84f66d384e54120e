package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import scala.collection.mutable

/** `curation_mix`: passes over a fixed set of `SparkEntry.queries` — the
  * LLM-curation and analytics operators — in a seed-shuffled order per
  * pass; at the benchmark's run length a run is one cold pass. No ledger,
  * catalog or commit work.
  *
  * Each query is built (`construct`: the query function, including any
  * eager checkpoints it runs) and then consumed by one aggregate that
  * returns its row count and an order-insensitive hash of every row
  * (`exec`). Both must equal pass 1 and, when `expected` is given (the
  * digests recorded in `expected.json` for this data), that record. */
object CurationMix {
  val Queries = Seq(
    "dd_ngram_jaccard", "dd_minhash_lsh", "dd_clusters", "dd_incremental_near",
    "sim_ann_ivf", "tx_tfidf", "q22_salted_join", "ev_stream_join",
    "q02_filter_pushdown", "tx_vocab")

  /** Count and hash of a result: doubles rounded to 6 places first so the
    * hash does not depend on the last bit of a floating sum. */
  def digest(df: DataFrame): (Long, String) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast("double"), 6)
        case _ => col(f.name)
      }
    }
    val h = xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(pmod(col("h"), lit(1000000007L))), lit(0L)),
        coalesce(bit_xor(col("h")), lit(0L)))
      .collect().head
    (r.getLong(0), f"${r.getLong(1)}%x-${r.getLong(2)}%x")
  }

  /** Generic Spark work over the inputs — parquet scan, join, hash
    * aggregate, sort — so the first query of a pass does not also pay the
    * engine's own first-query cost, whichever query the seed puts first. */
  private def warmUp(ctx: Ctx, dir: String): Double = {
    val t0 = System.nanoTime()
    val spark = ctx.spark
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(sum(col("l_quantity")), count(lit(1)))
      .orderBy(col("o_orderpriority")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  def run(ctx: Ctx, expected: Option[Map[String, (Long, String)]]): Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    val dir = s"${ctx.dataDir}/curation"
    val rnd = new scala.util.Random(ctx.seed)
    val fns = graft.SparkEntry.queries
    val setups = (1 to 3).map(_ => warmUp(ctx, dir))
    val first = mutable.Map.empty[String, (Long, String)]
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val execS = mutable.ArrayBuffer.empty[Double]
    val passS = mutable.ArrayBuffer.empty[Double]
    val layers = new LayerSamples
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // whole passes until --seconds is spent; one pass already takes longer
    // than the benchmark's run_seconds, so a run is normally one cold pass
    while (passS.isEmpty || elapsed < ctx.seconds) {
      var pass = 0.0
      rnd.shuffle(Queries).foreach { q =>
        ctx.attempt()
        val qid = t.spans.size
        val got = t.span(s"ops.$q") {
          val df = t.span("construct")(fns(q)(spark, dir))
          t.span("exec")(digest(df))
        }
        val qs = t.spans(qid)
        pass += qs.seconds
        execS += qs.seconds
        perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += qs.seconds
        first.get(q) match {
          case None =>
            first(q) = got
            expected.flatMap(_.get(q)).filter(_ != got).foreach { e =>
              throw new WrongResult(s"curation_mix $q: rows/hash $got, " +
                s"expected.json records $e")
            }
          case Some(f) if f != got =>
            throw new WrongResult(s"curation_mix $q: pass ${passS.size + 1} " +
              s"gave rows/hash $got, pass 1 gave $f")
          case _ =>
        }
        if (ctx.traced) {
          t.settle()
          val kids = t.children(qs)
          val c = t.counters(qs)
          layers.add(s"ops.${q}_s", qs.seconds)
          layers.add(s"ops.${q}_construct_s", kids.find(_.name == "construct").get.seconds)
          layers.add(s"ops.${q}_exec_s", kids.find(_.name == "exec").get.seconds)
          layers.add(s"ops.${q}_jobs", c.jobs.toDouble)
          layers.add(s"ops.${q}_cpu_util", c.cpuUtil(qs.seconds, ctx.cores))
          t.forgetEvents()
        }
        // checkpoint blocks are query-internal: release them (blocking)
        // before the next query, outside its span, as graft.BenchChild
        // does between reps
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      }
      passS += pass
      if (passS.size > 200) throw new IllegalStateException("curation_mix: runaway loop")
    }
    val missing = expected.map(e => Queries.filterNot(e.contains)).getOrElse(Nil)
    if (missing.nonEmpty)
      throw new WrongResult(s"curation_mix: expected.json has no digest for ${missing.mkString(", ")}")
    val medians = Queries.map(q => Stats.median(perQuery(q).toSeq))
    Outcome(ctx.attempts, setups,
      // op_p50_s is the median pass: the median of ten different queries
      // jumps between neighbours and spread 0.33 of its median over ten runs
      e2e = Map("cold_run_s" -> passS.head, "op_p50_s" -> Stats.median(passS.toSeq),
        "op_mean_s" -> Stats.mean(execS.toSeq),
        "query_geomean_s" -> Stats.geomean(medians)),
      named = Map("mix_pass_p50_s" -> Stats.median(passS.toSeq)) ++
        Queries.zip(medians).map { case (q, m) => s"query.${q}_p50_s" -> m },
      layers = layers.medians, coverage = Nil,
      notes = Map("passes" -> passS.size.toString,
        "digests" -> first.map { case (q, (n, h)) => s"$q=$n/$h" }.toSeq.sorted.mkString(" ")))
  }
}

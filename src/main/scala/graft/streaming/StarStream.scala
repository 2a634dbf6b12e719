package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.etl.RetailStar

/** The STAR tier joins the streaming verb matrix: the persisted
  * warehouse fact's load path driven by a real Structured Streaming
  * file source instead of a batch job. Month loads arrive as files;
  * each micro-batch lands its touched months via Spark's dynamic
  * partition overwrite (q56's mechanism under foreachBatch — st11's
  * partitioned merge at the star tier); an AT-LEAST-ONCE redelivery of
  * the arriving month (the upstream failure mode every file-based
  * loader owns) is staged deliberately and absorbed by partition
  * replacement. The stream's converged census must equal the batch
  * rebuild — hash-checked by the driver every round.
  */
object StarStream {

  /** st24's two load files (history; the arriving month) — pure
    * functions of the corpus, staged ONCE per corpus fingerprint as a
    * [[graft.store.tree]] (the st21/st23 retract-substrate precedent) and
    * byte-copied into each invocation's arrivals dir. The two
    * single-file stagings are independent jobs; submitted from two
    * driver threads (guide §2.6 tail back-fill). repartition(1), not
    * coalesce(1), for the history file: coalesce collapses the
    * upstream scan+filter into the same single task as the write —
    * repartition keeps the read parallel and pays only a ~25MB/0.1-sf
    * shuffle (measured 1.8s → 1.4s for the full-fact single file). */
  private def loadFilesSubstrate(spark: SparkSession, dir: String): String =
    graft.store.tree(spark, "graft_st24ld_v1", dir) { root =>
      val fact = RetailStar.servedStar(spark, dir).fact
      val lastKey = RetailStar.arrivingMonthKey(spark, dir) // q56's pick
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      Seq(
        Future {
          fact.filter(col("month_key") =!= lastKey)
            .repartition(1).write.mode("overwrite").parquet(s"$root/f1")
        },
        Future {
          fact.filter(col("month_key") === lastKey)
            .repartition(1).write.mode("overwrite").parquet(s"$root/f2")
        }).foreach(Await.result(_, Duration.Inf))
    }

  /** ST24 — streamed star-fact month loads AS a gate entry: the fact
    * (from the inline ETL build) is staged as TWO load files split at
    * the arriving month (history; the arriving month), plus a THIRD
    * file that is a byte-level copy of the arriving month — the
    * duplicate delivery. A file-source stream consumes them one
    * micro-batch each (mtime-ordered); foreachBatch rewrites only the
    * partitions a batch touches (dynamic partition overwrite), so the
    * duplicate batch replaces the same partition instead of appending
    * — the census the gate hashes proves the absorption every round
    * (an append path would double the arriving month). Serve = the
    * per-month census of the converged fact ≡ the full-rebuild census
    * (stream ≡ refresh ≡ rebuild; Round17Spec pins the q56 equality).
    *
    * Scale: each micro-batch rewrites only its touched partitions —
    * a daily/monthly load stream rewrites one partition per window
    * regardless of history depth; redeliveries (retried upstream
    * jobs, reprocessed buckets) are idempotent by partition
    * replacement, the property that lets the loader run at-least-once
    * end to end without a dedup ledger. Scratch lives at one FIXED
    * location per scale factor, rebuilt per invocation (s13's
    * no-tmp-accumulation discipline). */
  def st24FactLoads(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.store.scratch(spark, "graft_st24", dir, "in")
    val inDir = new Path(base, "in")
    // the load stream draws from the persisted warehouse fact (q56's
    // discipline) — star_build benchmarks the ETL, this row the loader.
    // The two load FILES are pure functions of the corpus: staged once
    // per corpus fingerprint and byte-copied into the arrivals dir.
    val fact = RetailStar.servedStar(spark, dir).fact
    val sub = loadFilesSubstrate(spark, dir)
    // stage with increasing mtimes so the file source orders the
    // micro-batches deterministically; c = the DUPLICATE delivery of
    // the arriving month (same bytes, later arrival)
    val stage = WaveLedger.stagePart(spark, _: String, inDir, _: String, _: Long)
    stage(s"$sub/f1", "a.parquet", 1000000L)
    stage(s"$sub/f2", "b.parquet", 2000000L)
    stage(s"$sub/f2", "c.parquet", 3000000L)
    val target = s"$base/fact_by_month"
    WaveLedger.run(spark, fact.schema, inDir.toString, s"$base/cp") { (batch, _) =>
      // empty-batch guard (st11's): a zero-row partitionBy write
      // would poison a fresh target with a schema-less dir
      if (!batch.isEmpty)
        graft.etl.Warehouse.withDynamicOverwrite(batch.sparkSession) {
          // the load file arrives as ONE input split; the month writer
          // spreads its months over the session's writer tasks, one
          // part file per month (one task writing the 79-month history
          // batch month after month measured 2.8s, spread 1.1s)
          graft.etl.Warehouse.writeFactPartitioned(batch, target)
        }
    }.stop()
    // converged census, schema-pinned read (q56's discipline: the
    // zero-padded MMyyyy partition values must stay strings)
    graft.etl.Warehouse.monthCensus(
      Tables.read(spark, fact.schema, target))
  }

  /** st25's second erasure wave (the first is q57's digit-7 slice):
    * natural ids ending in 013 — disjoint from wave 1, live at every
    * spec SF. */
  val St25Wave2Digit = 13L

  /** ST25 — STREAMED star-fact erasure: the retract half of the star
    * tier's stream verb pair (st24 is the arrive half; every other
    * persisted tier already owns both — st13/st19, st15/st16,
    * st17/st18, st20/st22). Erasure REQUESTS (victim customer keys)
    * arrive as files; each micro-batch applies q57's partition-scoped
    * repack (`Warehouse.eraseFromPartitionedFact`) — only the months
    * holding victim rows are rewritten, the emptied-month deletion
    * gap is handled inside the shared helper. A DUPLICATE delivery of
    * the first request file is staged deliberately and absorbed with
    * NO dedup ledger: erasure is naturally idempotent (the re-issued
    * request finds zero victim rows standing and touches zero
    * partitions) — the same at-least-once doctrine st24 established
    * for loads, proved on the retract path. Serve = the post-stream
    * per-month census ≡ rebuild-without-all-victims (stream-fold ≡
    * batch retention, q57's law).
    *
    * Scale: per-request cost ∝ the months the subject touched, never
    * history depth; request batches are bounded (erasure subjects,
    * not corpus rows); redelivered/replayed requests are free
    * (semi-join finds nothing, no write happens). */
  def st25FactErasure(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.store.scratch(spark, "graft_st25", dir, "in")
    val inDir = new Path(base, "in")
    val fact = RetailStar.servedStar(spark, dir).fact
    val target = s"$base/fact_by_month"
    // two disjoint erasure requests as surrogate-key files (the
    // natural→surrogate mapping derives from orders, q57's discipline)
    def victims(digit: Long): DataFrame = Tables.orders(spark, dir)
      .filter(pmod(col("o_custkey"), lit(RetailStar.Q57ErasureMod)) === digit)
      .select(xxhash64(col("o_custkey")).as("customer_key")).distinct()
    // the three setup legs are independent — the warehouse clone is
    // driver-FS bytes, the two request derivations are small Spark
    // jobs — so they run from three driver threads (guide §2.6);
    // each wave's staging follows its own write inside its leg, and
    // the stream starts only after all three complete. mtimes pin the
    // delivery order regardless of staging order.
    val stage = WaveLedger.stagePart(spark, _: String, inDir, _: String, _: Long)
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      Seq(
        // the standing warehouse = the cloned once-per-corpus substrate,
        // not a fresh 80-partition write per invocation
        Future(RetailStar.cloneWarehouse(spark, dir, target)),
        Future {
          victims(RetailStar.Q57ErasureDigit)
            .coalesce(1).write.mode("overwrite").parquet(s"$base/w1")
          // stage mtime-ordered: wave 1, then its DUPLICATE redelivery
          stage(s"$base/w1", "a.parquet", 1000000L)
          stage(s"$base/w1", "b.parquet", 2000000L)
        },
        Future {
          victims(St25Wave2Digit)
            .coalesce(1).write.mode("overwrite").parquet(s"$base/w2")
          stage(s"$base/w2", "c.parquet", 3000000L)
        }).foreach(Await.result(_, Duration.Inf))
    }
    val factSchema = fact.schema
    val requestSchema = new org.apache.spark.sql.types.StructType()
      .add("customer_key", org.apache.spark.sql.types.LongType)
    WaveLedger.run(spark, requestSchema, inDir.toString, s"$base/cp") { (batch, _) =>
      if (!batch.isEmpty) {
        graft.etl.Warehouse.eraseFromPartitionedFact(
          batch.sparkSession, target, factSchema, batch)
        ()
      }
    }.stop()
    graft.etl.Warehouse.monthCensus(
      Tables.read(spark, factSchema, target))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st24_fact_loads"   -> (st24FactLoads _),
    "st25_fact_erasure" -> (st25FactErasure _))

  /** st24's oracle IS q56's: the converged stream must serve the same
    * full-rebuild per-month census the batch refresh serves. st25's
    * is q57's law over BOTH erasure waves: rebuild-without-victims on
    * natural keys. */
  val oracles: Map[String, String] = Map(
    "st24_fact_loads" -> RetailStar.oracles("q56_star_refresh"),
    "st25_fact_erasure" ->
      """SELECT strftime(date_trunc('month', o_orderdate), '%m%Y') AS month_key,
                count(*) AS n_rows,
                round(sum(l_extendedprice), 2) AS total_amount
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_custkey % 1000 <> 7 AND o_custkey % 1000 <> 13
         GROUP BY 1 ORDER BY month_key""")
}

package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{RetailClean, Warehouse}

/** Property-based invariants (SURVEY.md §5.2): collision-dedup laws,
  * key-format laws, and the semi-additivity law of the monthly
  * snapshot, each checked over ScalaCheck-generated inputs with a
  * fixed seed (deterministic across rounds).
  */
class PropertySpec extends AnyFunSuite with GraftSuite {

  // (transaction_id, customer_id, date) line items; small id domains
  // force multi-line transactions and occasional collisions
  private val lineGen: Gen[(Long, Long, String)] = for {
    tid  <- Gen.chooseNum(1L, 12L)
    cust <- Gen.chooseNum(1L, 5L)
    day  <- Gen.chooseNum(1, 28)
  } yield (tid, cust, f"1/$day%d/2024")

  test("dedup laws: output is a subset; surviving transactions agree on customer and date") {
    import spark.implicits._
    check("dedup", Prop.forAll(Gen.listOfN(40, lineGen)) { rows =>
      val df = rows.toDF("transaction_id", "Customer_ID", "Date")
        .withColumn("Date_dt", to_date(col("Date"), "M/d/yyyy"))
      val out = RetailClean.dedupCollisions(df).cache()
      val outRows = out.select("transaction_id", "Customer_ID", "Date").as[(Long, Long, String)].collect()
      val subset = outRows.forall(rows.contains)
      val agree = out.groupBy("transaction_id")
        .agg(countDistinct("Customer_ID").as("nc"), countDistinct("Date_dt").as("nd"))
        .filter(col("nc") > 1 || col("nd") > 1).count() == 0L
      // completeness: every input transaction whose lines agree survives in full
      val inByTid = rows.groupBy(_._1)
      val keptTids = outRows.map(_._1).toSet
      val complete = inByTid.forall { case (tid, ls) =>
        val collides = ls.map(_._2).distinct.size > 1 || ls.map(_._3).distinct.size > 1
        if (collides) !keptTids.contains(tid)
        else outRows.count(_._1 == tid) == ls.size
      }
      subset && agree && complete
    }, n = 15)
  }

  test("key-format laws: date_key is 8 chars and round-trips; time_key is seconds-first") {
    import spark.implicits._
    val tsGen = for {
      day <- Gen.chooseNum(1, 28); mon <- Gen.chooseNum(1, 12)
      h <- Gen.chooseNum(0, 23); m <- Gen.chooseNum(0, 59); s <- Gen.chooseNum(0, 59)
    } yield (f"$mon%d/$day%d/2024", f"$h%d:$m%d:$s%d", day, mon, h, m, s)
    check("keys", Prop.forAll(Gen.listOfN(20, tsGen)) { rows =>
      val df = rows.map(r => (r._1, r._2)).toDF("Date", "Time")
      val keyed = RetailClean.synthesizeKeys(RetailClean.parseDateTime(df))
        .select("date_key", "month_key", "time_key").as[(String, String, String)].collect()
      keyed.zip(rows).forall { case ((dk, mk, tk), (_, _, day, mon, h, m, s)) =>
        dk.length == 8 && mk.length == 6 && tk.length == 6 &&
          dk == f"$day%02d$mon%02d2024" && mk == f"$mon%02d2024" &&
          tk == f"$s%02d$m%02d$h%02d" // SECONDS-FIRST (SURVEY §1.4 quirk 2)
      }
    }, n = 15)
  }

  test("semi-additivity law: lifetime spend at each month equals the running sum of month totals") {
    import spark.implicits._
    val saleGen = for {
      cust <- Gen.chooseNum(1L, 4L)
      mon  <- Gen.chooseNum(1, 6)
      tid  <- Gen.chooseNum(1L, 1000L)
      amt  <- Gen.chooseNum(1, 500)
    } yield (cust, f"$mon%d/15/2024", tid, amt.toDouble)
    check("semiAdditive", Prop.forAll(Gen.listOfN(30, saleGen)) { rows =>
      val cleaned = rows.toDF("Customer_ID", "Date", "transaction_id", "line_total_amount")
        .withColumn("Country", lit("PT")).withColumn("State", lit("N"))
        .withColumn("City", lit("Porto")).withColumn("Zipcode", lit(4000))
      val snap = Warehouse.factMonthlySnapshot(cleaned)
        .select("customer_key", "month_start", "month_total_spent", "customer_lifetime_spent")
        .as[(Long, java.sql.Date, Double, Double)].collect()
        .groupBy(_._1).values
      snap.forall { months =>
        val sorted = months.sortBy(_._2.getTime)
        val running = sorted.scanLeft(0.0)(_ + _._3).drop(1)
        sorted.map(_._4).zip(running).forall { case (lt, run) => math.abs(lt - run) < 1e-6 }
      }
    }, n = 15)
  }

  test("chunking laws: full coverage, exact overlap, bounded size, content round-trip") {
    import graft.ext.TextAnalysis.{ChunkOverlap, ChunkSize, ChunkStride}
    // pure-Scala reimplementation of the chunk INDEX math; the law is
    // checked against it, and t11's Spark form is oracle-checked to
    // the same formula in DuckDB, closing the triangle
    val docGen = Gen.chooseNum(1, 200)
    check("chunking", Prop.forAll(docGen) { n =>
      val nChunks = math.max(1, math.ceil((n - ChunkOverlap).toDouble / ChunkStride).toInt)
      val spans = (0 until nChunks).map { i =>
        val start = i * ChunkStride
        (start, math.min(start + ChunkSize, n))
      }
      val covered = spans.foldLeft(Set.empty[Int]) { case (s, (a, b)) => s ++ (a until b) }
      val sizesOk = spans.forall { case (a, b) => b - a >= 1 && b - a <= ChunkSize }
      val overlapOk = spans.sliding(2).forall {
        case Seq((a1, b1), (a2, _)) => a2 - a1 == ChunkStride && (b1 - a2 >= 0 || b1 == n)
        case _ => true
      }
      covered == (0 until n).toSet && sizesOk && overlapOk
    })
  }

  test("range join law: bucketed equals naive for random points and intervals") {
    import spark.implicits._
    val caseGen = for {
      pts <- Gen.listOfN(40, Gen.chooseNum(-100L, 100L))
      ivs <- Gen.listOfN(12, for {
        lo <- Gen.chooseNum(-120L, 120L)
        span <- Gen.chooseNum(-10L, 60L) // negative span → hi < lo → empty
      } yield (lo, lo + span))
      width <- Gen.oneOf(1L, 7L, 50L)
    } yield (pts, ivs, width)
    check("rangeJoin", Prop.forAll(caseGen) { case (pts, ivs, width) =>
      val p = pts.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("pid", "p")
      val iv = ivs.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
        .toDF("iid", "lo", "hi")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val naive = canon(p.crossJoin(iv).filter(col("p") >= col("lo") && col("p") <= col("hi")))
      val bucketed = canon(graft.operators.RangeJoin.pointInInterval(p, iv, "p", "lo", "hi", width))
      bucketed == naive
    }, n = 12)
  }

  test("pagerank: star center dominates; symmetric leaves tie EXACTLY (int64 law)") {
    import spark.implicits._
    // K4 star: center 0, leaves 1..4 — closed-form says the center
    // outranks every leaf, and exact fixed-point arithmetic says all
    // leaves tie to the last unit (float PageRank only ties within ε)
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("a", "b")
    val r = graft.ext.Graph.pagerank(pairs, "a", "b").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.keySet === Set(0L, 1L, 2L, 3L, 4L))
    assert(r(0L) > r(1L), s"center must outrank leaves: $r")
    assert(Set(r(1L), r(2L), r(3L), r(4L)).size === 1,
      s"symmetric leaves must tie exactly: $r")
    assert(r.values.sum <= graft.ext.Graph.Scale &&
      r.values.sum > (graft.ext.Graph.Scale * 0.99).toLong)
  }

  test("connectedComponents: diameter past the round cap fails loudly and leaks no blocks") {
    import spark.implicits._
    // a 60-edge path needs ~59 min-label rounds; the cap is 50, so
    // the call must throw (never return a non-fixpoint labeling) and
    // every checkpoint it pinned — edges AND labels — must be freed
    // on the error path
    val pairs = (0L until 60L).sliding(2).map(s => (s.head, s(1))).toSeq.toDF("a", "b")
    val before = spark.sparkContext.getPersistentRDDs.size
    intercept[IllegalStateException] {
      graft.ext.Dedup.connectedComponents(pairs, "a", "b").collect()
    }
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before,
      s"non-convergence path leaked checkpoint blocks: $before -> $after")
  }

  test("bounded levenshtein: equals min(full DP, bound+1) over random strings and bounds") {
    import graft.functions.EditDistance
    import org.apache.spark.unsafe.types.UTF8String
    val strGen = for {
      n <- Gen.chooseNum(0, 24)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', ' '))
    } yield cs.mkString
    val caseGen = for {
      a <- strGen; b <- strGen; k <- Gen.chooseNum(0, 8)
    } yield (a, b, k)
    check("bounded-lev", Prop.forAll(Gen.listOfN(60, caseGen)) { cases =>
      cases.forall { case (a, b, k) =>
        val got = EditDistance.bounded(
          UTF8String.fromString(a), UTF8String.fromString(b), k)
        val want = math.min(EditDistance.plain(a, b), k + 1)
        got == want
      }
    }, n = 60)
  }

  test("segment-sums laws: mass conservation, shape, and concatenation order") {
    import spark.implicits._
    import org.apache.spark.sql.graftshim.ColumnShim
    val bytesGen: Gen[List[Byte]] = for {
      n <- Gen.chooseNum(0, 300)
      bs <- Gen.listOfN(n, Gen.chooseNum(0, 255).map(_.toByte))
    } yield bs
    check("segment-sums", Prop.forAll(Gen.listOfN(12, bytesGen)) { payloads =>
      val df = payloads.zipWithIndex.map { case (b, i) => (i.toLong, b.toArray) }
        .toDF("id", "payload")
        .select(col("id"), col("payload"), ColumnShim.column(
          graft.functions.SegmentSums(ColumnShim.expression(col("payload")), 16)).as("s"))
      df.collect().forall { r =>
        val bytes = r.getAs[Array[Byte]]("payload")
        val sums = r.getSeq[Long](2)
        val mass = bytes.map(b => (b & 0xff).toLong).sum
        // 16 segments always; total mass conserved; byte i lands in
        // the segment the (i·16) div n rule names (monotone order)
        sums.length == 16 && sums.sum == mass &&
          (bytes.isEmpty || sums.zipWithIndex.forall { case (s, seg) =>
            val want = bytes.indices
              .filter(i => (i.toLong * 16 / bytes.length).toInt == seg)
              .map(i => (bytes(i) & 0xff).toLong).sum
            s == want
          })
      }
    }, n = 20)
  }

  test("pagerank: path graph ranks middle above endpoints") {
    import spark.implicits._
    // P5 path 0-1-2-3-4: degree-2 interior beats degree-1 endpoints,
    // and the symmetric positions (0,4) and (1,3) tie exactly
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val r = graft.ext.Graph.pagerank(pairs, "a", "b").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(2L) > r(0L) && r(2L) > r(4L), s"middle must dominate: $r")
    assert(r(0L) === r(4L) && r(1L) === r(3L), s"mirror symmetry must be exact: $r")
  }

  test("big-star CC law: equals union-find on random graphs of any shape") {
    import spark.implicits._
    import graft.ext.Dedup
    // arbitrary multigraphs with self-loops pre-filtered: chains, stars,
    // cliques, and disconnected shards all arise under this generator —
    // the single-seed Round9Spec cases are subsumed
    val edgeGen: Gen[List[(Long, Long)]] = for {
      n  <- Gen.chooseNum(2, 30)
      m  <- Gen.chooseNum(1, 60)
      es <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0L, n.toLong)
        b <- Gen.chooseNum(0L, n.toLong)
      } yield (a, b))
    } yield es.filter { case (a, b) => a != b }
    check("bigstar", Prop.forAll(edgeGen) { es =>
      es.isEmpty || {
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = es.flatMap(e => Seq(e._1, e._2)).distinct
          .map(v => v -> find(v)).toMap
        val got = Dedup.bigStarComponents(es.toDF("a_id", "b_id"), "a_id", "b_id")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == expected
      }
    }, n = 8)
  }

  test("water-filling law: closed-form cut equals the iterative greedy, truncation and all") {
    import spark.implicits._
    import graft.ext.Pipeline
    // arbitrary specs: skewed availabilities, ladder-bounded weights,
    // duplicate ratios, singletons; budget both UNDER total (the real
    // regime) and OVER it (the sentinel all-saturated degenerate)
    val specGen: Gen[(List[(String, Long, Long)], (Long, Long))] = for {
      n  <- Gen.chooseNum(1, 25)
      as <- Gen.listOfN(n, Gen.chooseNum(1L, 1000000L))
      ws <- Gen.listOfN(n, Gen.chooseNum(1L, 20L))
      b  <- Gen.oneOf((3L, 4L), (1L, 3L), (9L, 10L), (5L, 4L))
    } yield (as.zip(ws).zipWithIndex.map { case ((a, w), i) => (f"s$i%02d", a, w) }, b)
    // reference: round-by-round greedy — saturate every source whose
    // availability fits under the current level (exact cross-multiply),
    // shrink the budget, repeat; when a round saturates nobody, pour
    // the remaining budget over the remaining weights at the frozen
    // level with the same truncating division
    def ref(items: List[(String, Long, Long)], b: Long): Map[String, Long] = {
      var sat = Set.empty[String]
      var remB = b
      var alloc = Map.empty[String, Long]
      var done = false
      while (!done) {
        val unsat = items.filterNot(i => sat(i._1))
        if (unsat.isEmpty) done = true
        else {
          val tw = unsat.map(_._3).sum
          val newly = unsat.filter { case (_, a, w) => a * tw <= remB * w }
          if (newly.isEmpty) {
            unsat.foreach { case (s, _, w) => alloc += s -> (remB * w) / tw }
            done = true
          } else newly.foreach { case (s, a, _) =>
            alloc += s -> a; remB -= a; sat += s
          }
        }
      }
      alloc
    }
    check("waterfill", Prop.forAll(specGen) { case (items, (bn, bd)) =>
      val tot = items.map(_._2).sum
      val budget = (bn * tot) / bd
      val expected = ref(items, budget)
      val got = Pipeline.waterFill(spark,
          items.toDF("source", "avail", "w"), bn, bd)
        .collect().map(r => r.getString(0) -> r.getAs[Long]("alloc_tokens")).toMap
      got == expected
    }, n = 12)
  }

  test("epoch packing composes on arbitrary inputs: chained appendEpochBins " +
    "equals an independent Scala packing reference with cascading offsets") {
    import spark.implicits._
    import graft.ext.{Pipeline, TextAnalysis}
    val S = TextAnalysis.PackShards.toLong
    val C = TextAnalysis.PackCapacity.toLong
    // (doc_id, n_tok, wave): giant docs straddle bins, tiny id domains
    // put several docs per shard, waves may be empty per shard
    val docsGen: Gen[List[(Long, Long, Int)]] = for {
      n   <- Gen.chooseNum(0, 60)
      ids <- Gen.pick(n, 0L until 400L)
      ts  <- Gen.listOfN(n, Gen.oneOf(Gen.chooseNum(1L, 50L), Gen.chooseNum(1500L, 6000L)))
      ws  <- Gen.listOfN(n, Gen.chooseNum(0, 2))
    } yield ids.toList.zip(ts).zip(ws).map { case ((i, t), w) => (i, t, w) }
    // reference: per shard, sort by doc_id, running start_off, local
    // bin floor(start/C) + the shard's cascading offset
    def ref(docs: List[(Long, Long, Int)]): Map[(Long, Long), (Long, Long)] = {
      var off = Map.empty[Long, Long].withDefaultValue(0L)
      var out = Map.empty[(Long, Long), (Long, Long)]
      for (w <- 0 to 2) {
        val wave = docs.filter(_._3 == w).sortBy(_._1)
        val byShard = wave.groupBy(d => d._1 % S)
        byShard.foreach { case (sh, ds) =>
          var start = 0L
          var maxBin = -1L
          ds.foreach { case (_, t, _) =>
            val bin = off(sh) + start / C
            val (nd, nt) = out.getOrElse((sh, bin), (0L, 0L))
            out += (sh, bin) -> (nd + 1, nt + t)
            maxBin = math.max(maxBin, bin)
            start += t
          }
          if (maxBin >= 0) off += sh -> (maxBin + 1)
        }
      }
      out
    }
    check("epoch-packing", Prop.forAll(docsGen) { docs =>
      def flags(w: Int) = docs.filter(_._3 == w)
        .map(d => (d._1, d._2, true)).toDF("doc_id", "n_tok", "s5")
      val e0 = Pipeline.binsFrom(flags(0))
      val e1 = Pipeline.appendEpochBins(flags(1), e0)
      val e2 = Pipeline.appendEpochBins(flags(2), e0.unionByName(e1))
      val got = e0.unionByName(e1).unionByName(e2).collect()
        .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("bin")) ->
          (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
      got == ref(docs)
    }, n = 8)
  }

  test("water-filling wide: the DECIMAL(38) path agrees with a BigInt greedy " +
    "past the int64 sort-key bound, and with the narrow path inside it") {
    import spark.implicits._
    import graft.ext.Pipeline
    // availabilities chosen PAST the documented ~4e10 bound: the narrow
    // path's avail·lcm(1..20) sort key would overflow int64 on every
    // row. The generator runs to the very END of the int64 range —
    // the wide path's documented domain edge (avail/alloc are BIGINT
    // columns, so int64 bounds the interface; the decimal internals
    // must stay exact all the way there, incl. Σavail past int64)
    val wideGen: Gen[(List[(String, Long, Long)], (Long, Long))] = for {
      n  <- Gen.chooseNum(2, 15)
      as <- Gen.listOfN(n, Gen.oneOf(
              Gen.chooseNum(50000000000L, 2000000000000000L),
              Gen.chooseNum(Long.MaxValue / 4, Long.MaxValue - 1)))
      ws <- Gen.listOfN(n, Gen.chooseNum(1L, 20L))
      b  <- Gen.oneOf((3L, 4L), (1L, 3L), (9L, 10L))
    } yield (as.zip(ws).zipWithIndex.map { case ((a, w), i) => (f"s$i%02d", a, w) }, b)
    // the same round-by-round greedy as the narrow law, in BigInt so
    // the REFERENCE cannot overflow either
    def ref(items: List[(String, Long, Long)], b: BigInt): Map[String, BigInt] = {
      var sat = Set.empty[String]
      var remB = b
      var alloc = Map.empty[String, BigInt]
      var done = false
      while (!done) {
        val unsat = items.filterNot(i => sat(i._1))
        if (unsat.isEmpty) done = true
        else {
          val tw = BigInt(unsat.map(_._3).sum)
          val newly = unsat.filter { case (_, a, w) => BigInt(a) * tw <= remB * w }
          if (newly.isEmpty) {
            unsat.foreach { case (s, _, w) => alloc += s -> (remB * w) / tw }
            done = true
          } else newly.foreach { case (s, a, _) =>
            alloc += s -> BigInt(a); remB -= a; sat += s
          }
        }
      }
      alloc
    }
    check("waterfill-wide", Prop.forAll(wideGen) { case (items, (bn, bd)) =>
      val tot = items.map(i => BigInt(i._2)).sum
      val budget = (BigInt(bn) * tot) / BigInt(bd)
      val expected = ref(items, budget)
      val rows = Pipeline.waterFill(spark,
          items.toDF("source", "avail", "w"), bn, bd, wide = true).collect()
      val noNulls = rows.forall(r =>
        !r.isNullAt(r.fieldIndex("alloc_tokens")) &&
          !r.isNullAt(r.fieldIndex("fill_permille")))
      val got = rows.map(r =>
        r.getString(0) -> BigInt(r.getAs[Long]("alloc_tokens"))).toMap
      noNulls && got == expected
    }, n = 10)
    // inside the int64 envelope the two paths are interchangeable
    val small = List(("a", 1000000L, 3L), ("b", 50L, 20L), ("c", 999999L, 7L))
      .toDF("source", "avail", "w")
    assert(Pipeline.waterFill(spark, small, wide = true).collect().toSeq ===
      Pipeline.waterFill(spark, small).collect().toSeq)
  }

  // ---------- WaveLedger protocol: model-based op sequences ----------

  test("wave-ledger law: under RANDOM interleavings of arrive / redeliver / " +
    "compact / crashed-gen / restored-folded-wave, the serve (latest gen + " +
    "live tail) is exactly the set of arrived rows — each exactly once") {
    import graft.streaming.WaveLedger
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import spark.implicits._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", LongType)))
    val trial = new java.util.concurrent.atomic.AtomicInteger(0)
    // op codes: 0 arrive-new, 1 redeliver-random-arrived, 2 compact,
    // 3 crashed unmarked gen dir (poison), 4 restore a folded wave's
    // dir with POISON rows + marker (the post-marker crash window)
    val opsGen = Gen.listOfN(12, Gen.chooseNum(0, 4))
    check("wave-ledger", Prop.forAll(opsGen, Gen.chooseNum(1L, 999999L)) {
      (ops, salt) =>
      val base = s"/tmp/graft_prop_wl_${trial.incrementAndGet()}"
      val f = WaveLedger.fsOf(spark, new Path(base))
      f.delete(new Path(base), true)
      var nextWave = 0
      var arrived = List.empty[Int] // wave ids delivered at least once
      def waveRows(w: Int): Seq[(Long, Long)] =
        (0 until 3 + w % 3).map(i => (w * 10L + i, salt + i))
      def deliver(w: Int): Unit = {
        val df = waveRows(w).toDF("id", "v")
        WaveLedger.waveCommit(spark, base, df, col("id"),
          col("id") + col("v"),
          tag => WaveLedger.ledgerState(spark, base).folded(tag)) { bdir =>
          df.coalesce(1).write.mode("overwrite")
            .parquet(new Path(bdir, "rows").toString)
        }
      }
      def poison(dir: Path, mark: Boolean): Unit = {
        Seq((999999L, -1L)).toDF("id", "v").coalesce(1)
          .write.mode("overwrite").parquet(new Path(dir, "rows").toString)
        if (mark) f.create(new Path(dir, WaveLedger.CommitMarker), true).close()
      }
      var fail: Option[String] = None
      ops.zipWithIndex.foreach { case (op, i) =>
        if (fail.isEmpty) {
          op match {
            case 0 => deliver(nextWave); arrived ::= nextWave; nextWave += 1
            case 1 if arrived.nonEmpty => deliver(arrived(i % arrived.size))
            case 2 => WaveLedger.compactLedger(spark, base,
              Seq("rows" -> Some(schema)))
            case 3 => // mid-gen-write crash: unmarked gen dir with poison
              poison(new Path(f"$base%s/compact/gen_${90000 + i}%05d"),
                mark = false)
            case 4 => // post-marker crash: a folded wave's dir restored
              val st = WaveLedger.ledgerState(spark, base)
              st.folded.toSeq.sorted.headOption.foreach(tag =>
                poison(new Path(s"$base/ledger/$tag"), mark = true))
            case _ => // redeliver with nothing arrived: no-op
          }
          // the serve invariant holds after EVERY op, not just at the end
          val st = WaveLedger.ledgerState(spark, base)
          val dirs = st.dirs("rows")
          val got =
            if (dirs.isEmpty) Seq.empty[(Long, Long)]
            else spark.read.schema(schema).parquet(dirs: _*)
              .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
          val expected = arrived.toSet[Int].flatMap(waveRows)
          // set equality AND row count: a duplicated row (served from
          // both a generation and a leftover wave dir) must fail even
          // though the set would hide it
          if (got.toSet != expected || got.size != expected.size)
            fail = Some(s"after op $op (#$i): got ${got.size} rows " +
              s"(${got.toSet.size} distinct), expected ${expected.size}")
        }
      }
      f.delete(new Path(base), true)
      fail.fold(Prop.passed)(m => Prop.falsified :| m)
    }, n = 10)
  }

  test("partitioned-fact erasure law: erase ≡ rebuild-without-victims on " +
    "random facts, ghost-free (emptied months leave no partition dir)") {
    import spark.implicits._
    import org.apache.hadoop.fs.{FileSystem, Path}
    // small domains force shared months, all-victim months, and
    // victim-free months across cases
    val rowGen = for {
      cust  <- Gen.chooseNum(1L, 6L)
      month <- Gen.oneOf("012020", "022020", "032020", "042020")
      amt   <- Gen.chooseNum(1, 500)
    } yield (cust, month, amt / 100.0)
    val caseGen = for {
      rows    <- Gen.nonEmptyListOf(rowGen)
      victims <- Gen.someOf(1L to 6L)
    } yield (rows, victims.toSet)
    val tmpRoot = tempDir("erase_prop").toString
    var n = 0
    check("erasure", Prop.forAll(caseGen) { case (rows, victims) =>
      n += 1
      val target = s"$tmpRoot/fact_$n"
      val df = rows.toDF("customer_key", "month_key", "line_total_amount")
      Warehouse.writeFactPartitioned(df, target)
      Warehouse.eraseFromPartitionedFact(spark, target, df.schema,
        victims.toSeq.toDF("customer_key"))
      val got = spark.read.schema(df.schema).parquet(target)
        .select(col("customer_key"), col("month_key"), col("line_total_amount"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .sorted.toSeq
      val expected = rows.filterNot(r => victims.contains(r._1)).sorted
      val fs = FileSystem.get(new Path(target).toUri,
        spark.sparkContext.hadoopConfiguration)
      val dirs = fs.listStatus(new Path(target)).filter(_.isDirectory)
        .map(_.getPath.getName.stripPrefix("month_key=")).toSet
      val expectedDirs = expected.map(_._2).toSet
      (Prop(got == expected) :| s"rows: got $got expected $expected") &&
        (Prop(dirs == expectedDirs) :|
          s"ghost partitions: dirs $dirs expected $expectedDirs")
    }, n = 15)
    // the per-evaluation fact trees are scratch — don't leak them
    FileSystem.get(new Path(tmpRoot).toUri,
      spark.sparkContext.hadoopConfiguration).delete(new Path(tmpRoot), true)
  }

  test("freshness-gate law: refreshDriftedMonths repairs drift in BOTH " +
    "directions (missing and surplus rows), fires exactly the drifted " +
    "months, leaves quiet months' files untouched, and never touches a " +
    "warehouse-only month (retraction is the retention verbs' job)") {
    import spark.implicits._
    import org.apache.hadoop.fs.{FileSystem, Path}
    // source rows over a small month domain; the stale warehouse is a
    // random corruption of it: each row independently dropped (late
    // arrival) or duplicated (double-applied load) — months the
    // source carries can even vanish wholly from the stale side
    val rowGen = for {
      cust  <- Gen.chooseNum(1L, 6L)
      month <- Gen.oneOf("012020", "022020", "032020", "042020")
      amt   <- Gen.chooseNum(1, 500)
    } yield (cust, month, amt / 100.0)
    val caseGen = for {
      rows   <- Gen.nonEmptyListOf(rowGen)
      fates  <- Gen.listOfN(rows.length, Gen.frequency(
        (6, 1), (2, 0), (2, 2))) // keep / drop / duplicate
      // warehouse-ONLY rows in a month the source never carries: the
      // RETRACTION case, which the gate must leave alone (deletion is
      // q57/st25's verb, not the freshness gate's)
      ghosts <- Gen.listOf(Gen.zip(Gen.chooseNum(1L, 6L),
        Gen.chooseNum(1, 500)).map { case (c, a) => (c, "122019", a / 100.0) })
    } yield (rows, fates, ghosts)
    val tmpRoot = tempDir("fresh_prop").toString
    var n = 0
    // no shrinking: shrunk strings leave the month domain (an empty
    // month key round-trips as a null hive-default partition)
    check("freshness", Prop.forAllNoShrink(caseGen) { case (rows, fates, ghosts) =>
      n += 1
      val target = s"$tmpRoot/fact_$n"
      val source = rows.toDF("customer_key", "month_key", "line_total_amount")
      val staleRows =
        rows.zip(fates).flatMap { case (r, f) => List.fill(f)(r) } ++ ghosts
      // a wholly-empty stale warehouse has no parquet dir to read —
      // seed at least the schema by writing the (possibly empty)
      // frame through the same partitioned writer the verbs use
      val stale = staleRows.toDF("customer_key", "month_key", "line_total_amount")
      Warehouse.writeFactPartitioned(
        if (staleRows.nonEmpty) stale else source.limit(0), target)
      val f = FileSystem.get(new Path(target).toUri,
        spark.sparkContext.hadoopConfiguration)
      def fileState(except: Set[String]): Set[(String, Long, Long)] =
        f.listStatus(new Path(target))
          .filter(st => st.isDirectory &&
            !except.contains(st.getPath.getName.stripPrefix("month_key=")))
          .flatMap(st => f.listStatus(st.getPath))
          .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
          .toSet
      val srcCounts = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val staleCounts = staleRows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val expectedFired = srcCounts.keySet
        .filter(m => staleCounts.getOrElse(m, 0L) != srcCounts(m))
      val quietBefore = fileState(expectedFired)
      val decision = Warehouse.refreshDriftedMonths(
        spark, target, source.schema, source)
      val firedGot = decision.filter(col("fired") === 1L)
        .select(col("month_key")).collect().map(_.getString(0)).toSet
      val got = spark.read.schema(source.schema).parquet(target)
        .select(col("customer_key"), col("month_key"), col("line_total_amount"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .sorted.toSeq
      // the gate's contract is COUNT-level (the doc's checksum caveat:
      // an equal-count content swap is invisible by design): fired
      // months are rewritten wholesale from the source, quiet months
      // keep their standing content verbatim
      val expected = (rows.filter(r => expectedFired.contains(r._2)) ++
        staleRows.filterNot(r => expectedFired.contains(r._2))).sorted
      val quietAfter = fileState(expectedFired)
      (Prop(firedGot == expectedFired) :|
        s"fired: got $firedGot expected $expectedFired") &&
        (Prop(got == expected) :| s"rows: got $got expected $expected") &&
        (Prop(quietAfter == quietBefore) :| "quiet months' files changed")
    }, n = 15)
    FileSystem.get(new Path(tmpRoot).toUri,
      spark.sparkContext.hadoopConfiguration).delete(new Path(tmpRoot), true)
  }
}

package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based checks of the NFA and the sorted-partition scan against
  * brute-force reference implementations on randomized corpora (the
  * reference pins these semantics with hand fixtures in
  * MatchRecognizeITCase / CEPITCase; random sequences cover the gaps hand
  * fixtures miss). Each generated corpus holds many independent keys so one
  * Spark action checks ~60 random sequences at once. */
class CepPropertySpec extends SparkSpec {

  private val WithinUs = 3600L * 1000000L

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  private val kindGen: Gen[String] = Gen.frequency(
    4 -> "error", 2 -> "view", 2 -> "signup", 2 -> "purchase")

  /** ts gaps mix sub-second steps with occasional > 1 h jumps so the
    * `within` horizon genuinely prunes some runs. */
  private val gapGen: Gen[Long] = Gen.frequency(
    6 -> Gen.choose(1000L, 1000000L),
    2 -> Gen.const(30L * 60L * 1000000L),
    2 -> Gen.const(2L * 3600L * 1000000L))

  private def corpusGen: Gen[Seq[KeyedRow]] =
    Gen.sequence[Seq[Seq[KeyedRow]], Seq[KeyedRow]]((1 to 60).map { key =>
      for {
        n <- Gen.choose(0, 12)
        kinds <- Gen.listOfN(n, kindGen)
        gaps <- Gen.listOfN(n, gapGen)
      } yield {
        val ts = gaps.scanLeft(0L)(_ + _).tail
        kinds.zip(ts).zipWithIndex.map { case ((k, t), i) =>
          KeyedRow(key.toLong, t, key * 1000L + i, k, 0.0)
        }
      }
    }).map(_.flatten)

  test("errorBurst NFA equals the consecutive-triple brute force on random corpora") {
    val s = spark
    import s.implicits._
    check(Prop.forAll(corpusGen) { rows =>
      val got = Cep.matchBatch(rows.toDS(), Cep.errorBurst)
        .collect().map(m => (m.key, m.ids)).toSet
      val want = rows.groupBy(_.key).toSeq.flatMap { case (key, rs) =>
        val sorted = rs.sortBy(r => (r.ts, r.id))
        sorted.sliding(3).filter(w =>
          w.size == 3 && w.forall(_.kind == "error"))
          .map(w => (key, w.map(_.id).toSeq))
      }.toSet
      got == want
    })
  }

  test("signupFunnel NFA equals the earliest-pending greedy brute force") {
    val s = spark
    import s.implicits._
    check(Prop.forAll(corpusGen) { rows =>
      val got = Cep.matchBatch(rows.toDS(), Cep.signupFunnel)
        .collect().map(m => (m.key, m.ids)).toSet
      val want = rows.groupBy(_.key).toSeq.flatMap { case (key, rs) =>
        val sorted = rs.sortBy(r => (r.ts, r.id))
        val out = Seq.newBuilder[(Long, Seq[Long])]
        var pending = List.empty[KeyedRow] // open signup runs, oldest first
        sorted.foreach { r =>
          if (r.kind == "purchase") {
            // leftmost still-valid run wins; a match discards all runs
            pending.find(p => r.ts - p.ts <= WithinUs) match {
              case Some(p) => out += ((key, Seq(p.id, r.id))); pending = Nil
              case None => // no valid run — purchases never open runs
            }
          } else if (r.kind == "signup") pending = pending :+ r
        }
        out.result()
      }.toSet
      got == want
    })
  }

  test("SortedScan emits every key contiguously in (ts, id) order") {
    val s = spark
    import s.implicits._
    check(Prop.forAll(corpusGen) { rows =>
      val scanned = SortedScan.perKeyOrdered(rows.toDS(), KeyOrder.rows) { (key, it) =>
        it.map(r => (key, r.ts, r.id))
      }.collect().toSeq
      // per key: exactly the key's rows, in (ts, id) order
      val byKey = scanned.groupBy(_._1)
      val inputByKey = rows.groupBy(_.key)
      val sameRows = byKey.keySet == inputByKey.keySet.filter(k => inputByKey(k).nonEmpty) &&
        byKey.forall { case (k, got) =>
          got.map(r => (r._2, r._3)) ==
            inputByKey(k).sortBy(r => (r.ts, r.id)).map(r => (r.ts, r.id))
        }
      // contiguity: each key appears as one uninterrupted block in the output
      val keyBlocks = scanned.map(_._1).foldLeft(List.empty[Long]) {
        case (acc, k) if acc.headOption.contains(k) => acc
        case (acc, k) => k :: acc
      }
      sameRows && keyBlocks.distinct.size == keyBlocks.size
    })
  }

  /** One fixed corpus from [[corpusGen]], every key's last row moved to
    * the same 2020 event time: the watermark is global, so only rows near
    * the stream's overall end wait on the end marker. */
  private lazy val fixedCorpus: Seq[KeyedRow] = {
    val rows = corpusGen.pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(7L))
    val last = rows.groupBy(_.key).map { case (k, rs) => k -> rs.map(_.ts).max }
    rows.map(r => r.copy(ts = r.ts - last(r.key) + 1600000000000000L))
  }

  /** `rows` as a bounded file stream with the end marker attached, through
    * `op`, drained by the exactly-once file sink. */
  private def drainWithEnd[T](rows: Seq[KeyedRow])(
      op: Dataset[KeyedRow] => Dataset[T]): DataFrame = {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("cep_end").toString
    rows.toDS().coalesce(1).write.parquet(s"$root/in")
    val in = s.readStream.schema(Encoders.product[KeyedRow].schema)
      .parquet(s"$root/in").as[KeyedRow]
    val end = s"$root/out.end"
    graft.RelayDir.drain(s, op(Bounded.withEnd(in, end)).toDF(), s"$root/out", Some(end))
  }

  test("matchStream with a 5 s delay and the end marker equals matchBatch") {
    val s = spark
    import s.implicits._
    val rows = fixedCorpus
    def shape(ms: Seq[Cep.Match]) = ms.map(m => (m.key, m.start_ts, m.end_ts, m.ids))
    val want = Cep.matchBatch(rows.toDS(), Cep.errorBurst).collect().toSeq
    // matches in the last 5 s (every key's last 5 s here): the delayed
    // watermark never passes them without the end marker
    val lastTs = rows.map(_.ts).max
    assert(want.exists(_.end_ts > lastTs - 5000000L),
      "the corpus must hold matches in a key's last 5 s")
    val got = drainWithEnd(rows)(Cep.matchStream(_, Cep.errorBurst, "5 seconds"))
      .as[Cep.Match].collect().toSeq
    assert(!got.exists(_.key == Bounded.EndKey), s"sentinel leaked: $got")
    assert(shape(got).sortBy(_.toString) == shape(want).sortBy(_.toString))
  }

  test("orderedWithNav with the end marker equals batch lag/lead, last rows included") {
    val rows = fixedCorpus
    val got = {
      val s = spark
      import s.implicits._
      drainWithEnd(rows)(Cep.orderedWithNav(_, prevDepth = 2, nextDepth = 2))
        .as[Cep.NavRowN].collect().toSeq
    }
    assert(!got.exists(_.key == Bounded.EndKey), s"sentinel leaked: $got")
    // lag/lead over (ts, id) per key; NULLs past the edge drop from the ring
    val want = rows.groupBy(_.key).values.toSeq.flatMap { rs =>
      val o = rs.sortBy(r => (r.ts, r.id)).toIndexedSeq
      o.indices.map { i =>
        val prev = (1 to 2).flatMap(k => o.lift(i - k))
        val next = (1 to 2).flatMap(k => o.lift(i + k))
        Cep.NavRowN(o(i).key, o(i).ts, o(i).id, o(i).kind, o(i).value,
          prev.map(_.ts), prev.map(_.kind), prev.map(_.value),
          next.map(_.ts), next.map(_.kind), next.map(_.value), ets = null)
      }
    }
    assert(got.exists(_.next_ts.size < 2), "no key's last rows were flushed")
    assert(got.map(_.copy(ets = null)).sortBy(_.id) == want.sortBy(_.id))
    // a row leaves no earlier than the event time it entered with
    val etsMicros = (t: java.sql.Timestamp) => t.getTime * 1000L + t.getNanos / 1000 % 1000
    assert(got.forall(r => etsMicros(r.ets) >= r.ts + 2999L), s"ets below ts + 2999 µs: $got")
  }

  test("norm_text equals the regex formulation on random printable strings") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val strGen = Gen.listOf(Gen.frequency(
      5 -> Gen.alphaNumChar, 3 -> Gen.const(' '),
      2 -> Gen.oneOf('!', '.', ',', '\t', 'É', 'ß', '€', '-'))).map(_.mkString)
    check(Prop.forAll(Gen.listOfN(40, strGen)) { strs =>
      val df = strs.toDF("t")
      val got = df.select(graft.pipeline.TextFunctions.normalize(col("t")))
        .collect().map(_.getString(0)).toSeq
      val want = df.select(
          trim(regexp_replace(regexp_replace(lower(col("t")), "[^a-z0-9 ]", ""), " +", " ")))
        .collect().map(_.getString(0)).toSeq
      got == want
    })
  }
}

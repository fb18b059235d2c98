package graft

import java.nio.file.Files
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.Model._
import graft.ops.{Publish, RunPipeline}

/** [[Model.Json]], the control plane's driver-side codec, against the Spark
  * encoders and scans it replaced: every artifact line byte-identical to
  * `Dataset.toJSON`, every sheet cell identical to the Spark row chain, and
  * the state read keeping exactly what the PERMISSIVE scan keeps. */
class ModelJsonSpec extends SparkSpec {
  import spark.implicits._

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), p)
    assert(res.passed, res.status.toString)
  }

  // JSON escapes, controls, non-ASCII, a BMP char above the surrogates and
  // a surrogate pair (the two sort differently in UTF-16 and UTF-8)
  private val str: Gen[String] = Gen.listOf(Gen.oneOf(
    "a", "Z", "7", " ", "\"", "\\", "/", "\n", "\t", "\u0001", "\u001f", "\u007f",
    "\u00e9", "\u00f1", "Loto Cl\u00e1sico", "$", "\u2028", "\uffee", "\ud83d\ude00")).map(_.mkString)
  private val amount: Gen[Long] = Gen.oneOf(Gen.choose(0L, 1000L),
    Gen.choose(Int.MaxValue.toLong + 1, Long.MaxValue), Gen.choose(Long.MinValue, Long.MaxValue))
  private val amounts: Gen[Map[String, Long]] =
    Gen.choose(0, 6).flatMap(Gen.mapOfN(_, Gen.zip(str, amount)))
  private val sources: Gen[Seq[String]] = Gen.choose(0, 3).flatMap(Gen.listOfN(_, str))

  private val payload: Gen[SourcePayload] = for {
    name <- str; prio <- Gen.choose(Int.MinValue, Int.MaxValue); fuente <- str
    at <- str; sha <- Gen.option(str); est <- Gen.oneOf(true, false)
    montos <- amounts; ua <- Gen.option(str); sorteo <- Gen.option(amount)
    fecha <- Gen.option(str)
  } yield SourcePayload(name, prio, fuente, at, sha, est, montos, ua, sorteo, fecha)

  private val desc: Gen[SourceDesc] = for {
    fuente <- Gen.option(str); at <- Gen.option(str); sha <- Gen.option(str)
    ua <- Gen.option(str); est <- Gen.oneOf(true, false)
    sorteo <- Gen.option(amount); fecha <- Gen.option(str)
  } yield SourceDesc(fuente, at, sha, ua, est, sorteo, fecha)

  private def record(premios: Gen[Seq[Premio]]): Gen[NormalizedRecord] = for {
    sorteo <- Gen.option(amount); fecha <- Gen.option(str); fuente <- Gen.option(str)
    confidence <- str; ps <- premios; pozos <- amounts
    primary <- desc; alts <- Gen.choose(0, 2).flatMap(Gen.listOfN(_, desc))
  } yield NormalizedRecord(sorteo, fecha, fuente, confidence, ps, pozos,
    Provenance(PozosProvenance(primary, alts)))

  // categorias unique within a record: the row order is then total
  private val premios: Gen[Seq[Premio]] = Gen.choose(1, 4).flatMap(Gen.listOfN(_,
    Gen.zip(str, amount, amount))).map(_.distinctBy(_._1).map(Premio.tupled))
  private val anyRecord = Gen.oneOf(record(Gen.const(Seq.empty)), record(premios))

  private val mismatch: Gen[Mismatch] = for {
    cat <- str; cons <- Gen.mapOf(Gen.zip(str, sources)); dis <- Gen.mapOf(Gen.zip(str, sources))
    dev <- Gen.option(Gen.oneOf(Gen.choose(0.0, 10.0), Gen.const(1.0e-5), Gen.const(1.0e7)))
    missing <- sources
  } yield Mismatch(cat, cons, dis, dev, missing)

  private val decision: Gen[Decision] = for {
    st <- str; conf <- str; total <- amount; mis <- amount; reason <- str
  } yield Decision(st, conf, total, mis, reason)

  private val report: Gen[Report] = for {
    id <- str; at <- str; srcs <- sources; t <- Gen.choose(1, 99); r <- Gen.choose(1, 9)
    ff <- Gen.oneOf(true, false); sorteo <- Gen.option(amount); fecha <- Gen.option(str)
    d <- decision; ms <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, mismatch))
  } yield Report(RunInfo(id, at, srcs, t, r, ff), LastDraw(sorteo, fecha), d, ms, ApiVersion)

  private val summary: Gen[Summary] = for {
    id <- str; at <- str; d <- decision; changed <- Gen.oneOf(true, false)
    pub <- Gen.oneOf(true, false); reason <- str
  } yield Summary(id, at, d, changed, pub, reason, ApiVersion)

  /** The codec's line for each value equals Spark's `toJSON` of it. */
  private def sameAsToJson[T <: AnyRef : Encoder](gen: Gen[T]): Unit =
    check(Prop.forAll(Gen.listOfN(16, gen)) { xs =>
      assert(xs.map(Json.line) == spark.createDataset(xs).toJSON.collect().toSeq)
      true
    })

  test("codec lines are byte-identical to Dataset.toJSON") {
    sameAsToJson(payload)
    sameAsToJson(record(Gen.const(Seq.empty)))
    sameAsToJson(record(premios))
    sameAsToJson(report)
    sameAsToJson(summary)
    // both max_deviation shapes and the empty collections occur
    val fixed = Seq(report.sample.get.copy(mismatches = Seq(
      Mismatch("Loto", Map.empty, Map.empty, None, Nil),
      Mismatch("Loto", Map("1" -> Seq("a")), Map("2" -> Seq("b")), Some(0.5), Seq("c")))))
    assert(fixed.map(Json.line) == spark.createDataset(fixed).toJSON.collect().toSeq)
  }

  /** The Spark row chains `Publish.rows` and `Publish.mismatchRows`
    * replaced, over a batch of values, grouped back per value. */
  private def sparkRows(rows: DataFrame, n: Int): Seq[Seq[Seq[String]]] = {
    val got = rows.orderBy("rid", "categoria").collect().toSeq
      .map(r => r.getLong(0) -> r.toSeq.tail.map(v => if (v == null) "" else v.toString))
    (0 until n).map(i => got.filter(_._1 == i).map(_._2))
  }

  private def indexed[T <: Product : TypeTag](xs: Seq[T]): DataFrame =
    xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("rid", "x").select("rid", "x.*")

  test("sheet rows equal the Spark explode/to_json chain; 8-col cells are to_json") {
    check(Prop.forAll(Gen.listOfN(12, anyRecord)) { rs =>
      val df = indexed(rs)
      val pozos = sparkRows(df.select(col("rid"), col("sorteo"), col("fecha"),
        explode(col("pozos_proximo")).as(Seq("categoria", "pozo_clp"))), rs.length)
      val premios = sparkRows(df.select(col("rid"), col("sorteo"), col("fecha"), col("fuente"),
        explode(col("premios")).as("p"), to_json(col("pozos_proximo")).as("pz"),
        to_json(col("provenance")).as("pv"))
        .select(col("rid"), col("sorteo"), col("fecha"), col("fuente"),
          col("p.categoria").as("categoria"), col("p.premio_clp"), col("p.ganadores"),
          col("pz"), col("pv")), rs.length)
      rs.indices.foreach { i =>
        val expected = if (rs(i).premios.isEmpty) pozos(i) else premios(i)
        assert(Publish.rows(rs(i)) == expected, s"record $i")
      }
      true
    })
  }

  test("mismatch rows equal the Spark explode/to_json/array_join chain") {
    check(Prop.forAll(Gen.listOfN(12, report)) { reps =>
      val expected = sparkRows(indexed(reps)
        .select(col("rid"), col("last_draw.sorteo").as("sorteo"), explode(col("mismatches")).as("m"))
        .select(col("rid"), col("sorteo"), col("m.categoria").as("categoria"),
          to_json(col("m.consensus")), to_json(col("m.disagreeing")),
          array_join(col("m.missing_sources"), ", ")), reps.length)
      // ties on categoria have no defined order on either side
      reps.indices.foreach { i =>
        assert(Publish.mismatchRows(reps(i)).sortBy(_.mkString("\t")) ==
          expected(i).sortBy(_.mkString("\t")), s"report $i")
      }
      true
    })
  }

  /** Today's state read as it was before the codec: the oracle. */
  private def permissiveScan(path: String): Seq[NormalizedRecord] =
    spark.read.schema(Encoders.product[NormalizedRecord].schema
        .add("_corrupt_record", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .filter(col("_corrupt_record").isNull).drop("_corrupt_record")
      .as[NormalizedRecord].collect().toSeq

  /** Every Long of a record, unboxed: a value decoded as a boxed Integer
    * throws ClassCastException here, where `==` would hide it. */
  private def unboxAll(r: NormalizedRecord): Long = {
    val descs = r.provenance.pozos.primary +: r.provenance.pozos.alternatives
    r.sorteo.getOrElse(0L) + r.pozos_proximo.values.sum +
      r.premios.map(p => p.premio_clp + p.ganadores).sum +
      descs.map(_.sorteo.getOrElse(0L)).sum
  }

  private val fixedDesc = SourceDesc(Some("https://a.cl/"), Some("t"), Some("sha"), None,
    estimado = true, Some(5417L), Some("2026-04-26"))
  private val small = NormalizedRecord(Some(5417L), None, None, "single_source", Nil,
    Map("Loto" -> 1000L), Provenance(PozosProvenance(fixedDesc, Nil)))

  private def stateFile(lines: Seq[String]): String = {
    val path = Files.createTempDirectory("graft-state").resolve("last_run.jsonl")
    Files.writeString(path, lines.mkString("\n") + "\n")
    path.toString
  }

  test("loadState keeps what Spark's PERMISSIVE scan keeps, Longs unboxed") {
    val desc = fixedDesc
    val big = NormalizedRecord(Some(3000000000L), Some("2026-04-26"), Some("https://a.cl/"),
      "full", Seq(Premio("6 aciertos", 9000000000L, 1L)),
      Map("Loto" -> 5000000000L, "Desquite" -> 12L),
      Provenance(PozosProvenance(desc.copy(sorteo = Some(4000000000L)), Seq(desc))))
    val valid = Json.line(small)
    val corpus = Seq(
      valid,
      "",
      "   ",
      "{not json}",
      valid.replace("\"sorteo\":5417,", "\"sorteo\":\"abc\","),     // wrongly typed
      valid.replace("\"sorteo\":5417,", "\"sorteo\":\"5417\","),    // number as string
      valid.replace("\"sorteo\":5417,", "\"sorteo\":5417.5,"),      // float for a Long
      valid.replace("\"Loto\":1000", "\"Loto\":99999999999999999999"), // Long overflow
      valid.replace("\"confidence\":\"single_source\"", "\"confidence\":5"),
      """{"confidence":"full","premios":[],"pozos_proximo":{"Loto":7},""" +
        """"provenance":{"pozos":{"primary":{"estimado":false},"alternatives":[]}}}""",
      valid.replace("{\"sorteo\"", "{\"extra\":{\"x\":[1,2.5,null]},\"sorteo\""),
      "null",
      Json.line(big),
      Json.line(small.copy(pozos_proximo = Map.empty)))
    val path = stateFile(corpus)
    val oracle = permissiveScan(path)
    val got = RunPipeline.loadState(path)
    assert(got == oracle)
    assert(got.map(unboxAll) == oracle.map(unboxAll))
    // the corpus exercises both sides: lines kept and lines dropped
    assert(got.length == 6 && got.contains(big) && got.contains(small))
    assert(RunPipeline.loadState(path + ".absent").isEmpty)
  }

  test("the documented edges of the state read against the PERMISSIVE scan") {
    val valid = Json.line(small)
    val objectInString = valid.replace("\"confidence\":\"single_source\"",
      "\"confidence\":{\"a\":1}")
    for (line <- Seq(objectInString, s"[$valid,$valid]")) {
      val path = stateFile(Seq(line))
      assert(permissiveScan(path).nonEmpty, line)
      assert(RunPipeline.loadState(path).isEmpty, line)
    }
    // and the reverse: invalid UTF-8 in a string drops the line in Spark's
    // scan, while loadState reads it with U+FFFD
    val bytes = (valid + "\n").getBytes("UTF-8")
    bytes(valid.indexOf("single_source") + 6) = 0xff.toByte
    val path = stateFile(Nil)
    Files.write(java.nio.file.Paths.get(path), bytes)
    assert(permissiveScan(path).isEmpty)
    assert(RunPipeline.loadState(path).map(_.confidence) == Seq("single\ufffdsource"))
  }

  test("SparkStringOrder sorts as Spark's orderBy on a STRING column") {
    check(Prop.forAll(Gen.listOfN(20, str)) { xs =>
      assert(xs.sorted(SparkStringOrder) == xs.toDF("s").orderBy("s").collect().map(_.getString(0)).toSeq)
      true
    })
  }
}

package graft

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{DeserializationFeature, MapperFeature}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.fasterxml.jackson.module.scala.introspect.ScalaAnnotationIntrospectorModule

/** Fixed, declared schemas for the pipeline's record types (SURVEY §1.1).
  * The reference flows schema-implicit dicts; here every artifact is a
  * case class. The EP1/EP2 control plane runs on the driver: [[Model.Json]]
  * writes and reads the single-record JSONL artifacts without a
  * SparkSession, in the bytes Spark's own JSON encoders would produce.
  * The one Spark action of a run is the consensus merge, which takes the
  * collected payloads as a `Dataset[SourcePayload]`.
  */
object Model {

  /** Raw fetch payload (reference `sources/pozos.py:248-257`). */
  case class SourcePayload(
      source_name: String,
      priority: Int,
      fuente: String,
      fetched_at: String,
      sha256: Option[String],
      estimado: Boolean,
      montos: Map[String, Long],
      user_agent: Option[String],
      sorteo: Option[Long],
      fecha: Option[String])

  /** Provenance descriptor (reference `pipeline.py:208-216`). */
  case class SourceDesc(
      fuente: Option[String],
      fetched_at: Option[String],
      sha256: Option[String],
      user_agent: Option[String],
      estimado: Boolean,
      sorteo: Option[Long],
      fecha: Option[String])

  object SourceDesc {
    def of(p: SourcePayload): SourceDesc = SourceDesc(
      Some(p.fuente), Some(p.fetched_at), p.sha256, p.user_agent,
      p.estimado, p.sorteo, p.fecha)
  }

  case class PozosProvenance(primary: SourceDesc, alternatives: Seq[SourceDesc])
  case class Provenance(pozos: PozosProvenance)

  case class Premio(categoria: String, premio_clp: Long, ganadores: Long)

  /** Normalized record (reference `pipeline.py:409-417`); also the state
    * record (`pipeline.py:437`). */
  case class NormalizedRecord(
      sorteo: Option[Long],
      fecha: Option[String],
      fuente: Option[String],
      confidence: String,
      premios: Seq[Premio],
      pozos_proximo: Map[String, Long],
      provenance: Provenance)

  /** Mismatch entry (reference `pipeline.py:183-191`). */
  case class Mismatch(
      categoria: String,
      consensus: Map[String, Seq[String]],
      disagreeing: Map[String, Seq[String]],
      max_deviation: Option[Double],
      missing_sources: Seq[String])

  case class RunInfo(id: String, generated_at: String, sources: Seq[String],
      timeout: Int, retries: Int, fail_fast: Boolean)
  case class LastDraw(sorteo: Option[Long], fecha: Option[String])
  case class Decision(status: String, confidence: String,
      total_categories: Long, mismatched_categories: Long, reason: String)

  /** Comparison report (reference `pipeline.py:288-323`). */
  case class Report(run: RunInfo, last_draw: LastDraw, decision: Decision,
      mismatches: Seq[Mismatch], api_version: String)

  /** Run summary (reference `pipeline.py:326-349`). */
  case class Summary(run_id: String, generated_at: String, decision: Decision,
      prizes_changed: Boolean, publish: Boolean, publish_reason: String,
      api_version: String)

  val ApiVersion = "v1.2"

  /** Spark's order for STRING values (unsigned UTF-8 bytes), so categories
    * sort on the driver exactly as under `orderBy("categoria")`. */
  val SparkStringOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = java.util.Arrays.compareUnsigned(
      a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))
  }

  /** Driver-side JSON codec for the records above.
    *
    * Writes: `line(x)` equals `spark.createDataset(Seq(x)).toJSON.head()`,
    * and `line` of a nested value equals Spark's `to_json` of it — fields
    * in declaration order, `None` omitted (Spark drops null fields), maps
    * in iteration order, no whitespace. Both sides drive the same
    * jackson-core generator, so numbers and string escapes agree.
    *
    * Reads: `record(line)` keeps the lines Spark's PERMISSIVE scan with
    * the `NormalizedRecord` schema keeps, and decodes them alike: blank,
    * malformed and wrongly typed lines are dropped, unknown fields are
    * ignored, a number in a string field reads as its text. Two settings
    * make Jackson as strict as Spark on numbers: no float-to-integer and
    * no string-to-number coercion. Two shapes Spark keeps are dropped
    * here: an object or array in a string field (Spark keeps its JSON
    * text) and a line holding a JSON array (Spark reads one row per
    * element). The control plane writes neither.
    */
  object Json {
    // jackson-module-scala sees `Option[Long]` and `Map[String, Long]` as
    // erased generics and would box small values as Integer; the element
    // types are registered for every such field `record` decodes.
    Seq(classOf[NormalizedRecord] -> "sorteo", classOf[NormalizedRecord] -> "pozos_proximo",
        classOf[SourceDesc] -> "sorteo").foreach { case (c, f) =>
      ScalaAnnotationIntrospectorModule.registerReferencedValueType(c, f, classOf[Long])
    }

    private val mapper = JsonMapper.builder()
      .addModule(DefaultScalaModule)
      .defaultPropertyInclusion(JsonInclude.Value.construct(
        JsonInclude.Include.NON_ABSENT, JsonInclude.Include.ALWAYS))
      .disable(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES)
      .disable(DeserializationFeature.ACCEPT_FLOAT_AS_INT)
      .disable(MapperFeature.ALLOW_COERCION_OF_SCALARS)
      .build()

    def line(value: AnyRef): String = mapper.writeValueAsString(value)

    def record(line: String): Option[NormalizedRecord] =
      if (line.trim.isEmpty) None
      else try Option(mapper.readValue(line, classOf[NormalizedRecord]))
      catch { case _: JsonProcessingException => None }
  }
}

package graft

import com.fasterxml.jackson.core.{JsonGenerator, JsonParser}
import com.fasterxml.jackson.databind.{DeserializationContext,
  DeserializationFeature, JsonDeserializer, JsonNode, JsonSerializer,
  ObjectMapper, PropertyNamingStrategies, SerializationFeature,
  SerializerProvider}
import com.fasterxml.jackson.databind.module.SimpleModule
import com.fasterxml.jackson.module.scala.{ClassTagExtensions,
  DefaultScalaModule}
import org.apache.spark.sql.types.{DataType, StructType}

/** The engine's one JSON codec, for every metadata file it reads back
  * (store manifests, PLAN_GATE.json, SCALE_GATE.json, BENCH_LOCAL.json)
  * and the oracle SQL it writes. Case classes bind by their field names
  * in snake_case; map entries are written in key order (numeric for
  * numeric keys), so a written file is deterministic; unknown fields
  * are ignored on read. A `StructType` is Spark SQL's own schema JSON.
  * `readValue[T]` (ClassTagExtensions) keeps primitive type arguments
  * such as `Map[String, Int]` from erasing to `Object`.
  */
object Json {
  private val schemaModule = new SimpleModule()
    .addSerializer(classOf[StructType], new JsonSerializer[StructType] {
      override def serialize(s: StructType, g: JsonGenerator,
          p: SerializerProvider): Unit = g.writeTree(mapper.readTree(s.json))
    })
    .addDeserializer(classOf[StructType], new JsonDeserializer[StructType] {
      override def deserialize(p: JsonParser,
          c: DeserializationContext): StructType =
        DataType.fromJson(p.readValueAsTree[JsonNode]().toString)
          .asInstanceOf[StructType]
    })

  val mapper: ObjectMapper with ClassTagExtensions = {
    val m = new ObjectMapper() with ClassTagExtensions
    m.registerModule(DefaultScalaModule).registerModule(schemaModule)
      .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
      .configure(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)
      .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }
}

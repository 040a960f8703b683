package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import com.fasterxml.jackson.databind.JsonNode
import scala.jdk.CollectionConverters._

/** JSON-schema-driven dtypes, defaults, and enum booleanization — reference
  * schema_util (lours/dataset/io/schema_util/schema_util_functions.py:17-326).
  *
  * A (draft-07-style) JSON schema drives three things:
  *  1. a Spark `StructType` (dotted names for nested objects, matching the
  *     json-normalize column convention)
  *  2. default-value filling for absent/null columns
  *  3. the value domains of enum-array fields, feeding
  *     [[graft.operators.Booleanize]]
  *
  * Jackson, through the shared [[Json]] mapper, does the parsing; everything
  * else is driver-side schema algebra.
  */
object SchemaUtil {
  import Json.mapper

  case class FieldSpec(name: String, dataType: DataType, nullable: Boolean,
      default: Option[Any], enumValues: Option[Seq[String]])

  private def sparkType(node: JsonNode): DataType =
    Option(node.get("type")).map(_.asText()).getOrElse("string") match {
      case "integer" => LongType
      case "number" => DoubleType
      case "boolean" => BooleanType
      case "array" =>
        val items = Option(node.get("items")).map(sparkType).getOrElse(StringType)
        ArrayType(items)
      case _ => StringType
    }

  /** Flatten a JSON schema's `properties` tree into dotted field specs. */
  def fieldSpecs(schemaJson: String): Seq[FieldSpec] = {
    val root = mapper.readTree(schemaJson)
    def walk(node: JsonNode, prefix: String, requiredHere: Set[String]): Seq[FieldSpec] = {
      val props = Option(node.get("properties"))
        .map(_.properties().asScala.toSeq).getOrElse(Nil)
      props.flatMap { e =>
        val key = e.getKey
        val child = e.getValue
        val name = if (prefix.isEmpty) key else s"$prefix.$key"
        val tpe = Option(child.get("type")).map(_.asText()).getOrElse("string")
        if (tpe == "object") {
          val req = Option(child.get("required"))
            .map(_.elements().asScala.map(_.asText()).toSet).getOrElse(Set.empty)
          walk(child, name, req)
        } else {
          val default = Option(child.get("default")).map { d =>
            if (d.isNumber) d.asDouble(): Any
            else if (d.isBoolean) d.asBoolean(): Any
            else d.asText(): Any
          }
          val enums = Option(child.get("items")).flatMap(i => Option(i.get("enum")))
            .orElse(Option(child.get("enum")))
            .map(_.elements().asScala.map(_.asText()).toSeq)
          Seq(FieldSpec(name, sparkType(child),
            nullable = !requiredHere.contains(key), default, enums))
        }
      }
    }
    val req = Option(mapper.readTree(schemaJson).get("required"))
      .map(_.elements().asScala.map(_.asText()).toSet).getOrElse(Set.empty)
    walk(root, "", req)
  }

  /** JSON schema → Spark StructType with dotted names. */
  def toStructType(schemaJson: String): StructType =
    StructType(fieldSpecs(schemaJson).map(f =>
      StructField(f.name, f.dataType, f.nullable)))

  /** Enforce a schema on a flattened frame: add missing columns (default or
    * null), cast present ones, fill nulls with defaults
    * (schema_util_functions.py:136-141 dtype/default semantics). */
  def enforce(df: DataFrame, schemaJson: String): DataFrame = {
    val specs = fieldSpecs(schemaJson)
    specs.foldLeft(df) { (d, f) =>
      val cur: Option[Column] =
        if (d.columns.contains(f.name)) Some(col(s"`${f.name}`")) else None
      val defaultCol = f.default.map(v => lit(v).cast(f.dataType))
      val c = (cur, defaultCol) match {
        case (Some(x), Some(dflt)) => coalesce(x.cast(f.dataType), dflt)
        case (Some(x), None) => x.cast(f.dataType)
        case (None, Some(dflt)) => dflt
        case (None, None) => lit(null).cast(f.dataType)
      }
      d.withColumn(f.name, c)
    }
  }

  /** Enum-array fields of the schema: column name → value domain — the
    * booleanization drive (schema_util_functions.py:47-82). */
  def enumArrayFields(schemaJson: String): Map[String, Seq[String]] =
    fieldSpecs(schemaJson).collect {
      case FieldSpec(n, ArrayType(_, _), _, _, Some(vals)) => n -> vals
    }.toMap

  /** Booleanize every enum-array field per the schema. */
  def booleanizeBySchema(df: DataFrame, schemaJson: String): (DataFrame, Set[String]) =
    enumArrayFields(schemaJson).foldLeft((df, Set.empty[String])) {
      case ((d, fams), (colName, domain)) if d.columns.contains(colName) =>
        val (out, _) = graft.operators.Booleanize.booleanizeColumn(d, colName, Some(domain))
        (out, fams + colName)
      case (acc, _) => acc
    }
}

/** Sub-schema navigation for the caipy document layout: the per-image JSON
  * schema nests the image fields under `properties.image` and annotation
  * fields under `properties.annotations.items` (array-of-object). */
object CaipySchema {
  import Json.mapper

  private def navigate(schemaJson: String, path: Seq[String]): Option[String] = {
    var node = mapper.readTree(schemaJson)
    for (step <- path) {
      node = Option(node.get("properties")).map(_.get(step)).orNull
      if (node == null) return None
      if (Option(node.get("type")).exists(_.asText() == "array"))
        node = node.get("items")
      if (node == null) return None
    }
    Some(node.toString)
  }

  /** Field specs of the image sub-document. */
  def imageSpecs(schemaJson: String): Seq[SchemaUtil.FieldSpec] =
    navigate(schemaJson, Seq("image")).map(SchemaUtil.fieldSpecs).getOrElse(Nil)

  /** Field specs of one annotation element. */
  def annotationSpecs(schemaJson: String): Seq[SchemaUtil.FieldSpec] =
    navigate(schemaJson, Seq("annotations")).map(SchemaUtil.fieldSpecs).getOrElse(Nil)

  def imageSubschema(schemaJson: String): Option[String] = navigate(schemaJson, Seq("image"))
  def annotationSubschema(schemaJson: String): Option[String] = navigate(schemaJson, Seq("annotations"))
}

package graft.wikidata

import org.apache.spark.sql.types._

/** Explicit StructType for Wikidata entity JSON (SURVEY.md §1.1, from the
  * public Wikibase JSON format spec — never `inferSchema`, which samples
  * nondeterministically).
  *
  * `datavalue.value` is polymorphic on `datavalue.type` (string vs object
  * shapes). It is declared StringType: Spark's JSON parser captures the
  * raw JSON text when a StringType field meets an object, which preserves
  * the value losslessly for typed extraction downstream (VARIANT or
  * from_json per dv-type). This also survives values that exceed Spark's
  * native types: year ±9999 times, arbitrary-precision quantity amounts.
  */
object EntitySchema {
  private[wikidata] val langValue = StructType(Seq(
    StructField("language", StringType),
    StructField("value", StringType)))

  val snak: StructType = StructType(Seq(
    StructField("snaktype", StringType), // value | somevalue | novalue
    StructField("property", StringType),
    StructField("datatype", StringType),
    StructField("datavalue", StructType(Seq(
      StructField("value", StringType), // raw JSON (polymorphic)
      StructField("type", StringType))))))

  val statement: StructType = StructType(Seq(
    StructField("mainsnak", snak),
    StructField("type", StringType),
    StructField("id", StringType),
    StructField("rank", StringType), // preferred | normal | deprecated
    StructField("qualifiers", MapType(StringType, ArrayType(snak))),
    StructField("qualifiers-order", ArrayType(StringType)),
    StructField("references", ArrayType(StructType(Seq(
      StructField("hash", StringType),
      StructField("snaks", MapType(StringType, ArrayType(snak)))))))))

  val entity: StructType = StructType(Seq(
    StructField("type", StringType), // item | property
    StructField("id", StringType),
    // P-entities declare their value datatype at the top level — the
    // registry wd_datatype_check validates every observed mainsnak
    // datatype against (round-16 verdict 4). Null on items.
    StructField("datatype", StringType),
    StructField("labels", MapType(StringType, langValue)),
    StructField("descriptions", MapType(StringType, langValue)),
    StructField("aliases", MapType(StringType, ArrayType(langValue))),
    StructField("claims", MapType(StringType, ArrayType(statement))),
    StructField("sitelinks", MapType(StringType, StructType(Seq(
      StructField("site", StringType),
      StructField("title", StringType),
      StructField("badges", ArrayType(StringType)))))),
    StructField("lastrevid", LongType),
    StructField("modified", StringType),
    // Redirect stubs (round-15 verdict 3): the public dump carries
    // redirected entities as {"id":"Q…","redirect":"Q…"} lines with no
    // labels/claims. Parsing the field lets the family surface a
    // (from, to) relation (wd_redirects) and route stubs OUT of the
    // entity surface instead of silently loading them as empty
    // entities — an importer needs the mapping for id resolution.
    StructField("redirect", StringType)))

  /** `schema` cut down to the dotted `paths`, every other field
    * dropped and field order kept. A path step names a struct field and
    * descends through map values and array elements, so
    * `claims.mainsnak.datavalue` keeps each statement's datavalue whole
    * and nothing else of it. A JSON scan read with the result parses
    * only those fields: Spark 4.1 prunes a JSON relation at the top
    * level only, never inside a column. A step that names no field
    * fails. */
  def prune(schema: StructType, paths: Seq[String]): StructType = {
    val byHead = paths.map(_.split("\\.", 2)).groupBy(_(0))
    byHead.keys.foreach(h => require(schema.fieldNames.contains(h),
      s"no field $h in ${schema.catalogString}"))
    StructType(schema.fields.filter(f => byHead.contains(f.name)).map { f =>
      val steps = byHead(f.name)
      if (steps.exists(_.length == 1)) f
      else f.copy(dataType = pruneType(f.dataType, steps.map(_(1))))
    })
  }

  private def pruneType(t: DataType, paths: Seq[String]): DataType = t match {
    case st: StructType => prune(st, paths)
    case a: ArrayType => a.copy(elementType = pruneType(a.elementType, paths))
    case m: MapType => m.copy(valueType = pruneType(m.valueType, paths))
    case other => throw new IllegalArgumentException(
      s"${paths.mkString(", ")}: no field inside ${other.catalogString}")
  }

  /** Lexeme (L-) entity schema, from the public Wikibase lexeme JSON
    * format (round-15 verdict missing-item 3): the lexemes dump is a
    * separate file whose entries carry lemmas / lexicalCategory /
    * language plus nested `forms` (representations + grammatical
    * features) and `senses` (glosses), each with their own claims.
    * Claims reuse the statement schema — the lexeme dump's statement
    * shape is identical to the entity dump's. */
  val lexeme: StructType = StructType(Seq(
    StructField("type", StringType), // always "lexeme"
    StructField("id", StringType),   // L-id
    StructField("lemmas", MapType(StringType, langValue)),
    StructField("lexicalCategory", StringType), // Q-id (noun, verb, …)
    StructField("language", StringType),        // Q-id of the language
    StructField("claims", MapType(StringType, ArrayType(statement))),
    StructField("forms", ArrayType(StructType(Seq(
      StructField("id", StringType), // "L1-F1"
      StructField("representations", MapType(StringType, langValue)),
      StructField("grammaticalFeatures", ArrayType(StringType)),
      StructField("claims", MapType(StringType, ArrayType(statement))))))),
    StructField("senses", ArrayType(StructType(Seq(
      StructField("id", StringType), // "L1-S1"
      StructField("glosses", MapType(StringType, langValue)),
      StructField("claims", MapType(StringType, ArrayType(statement))))))),
    StructField("lastrevid", LongType),
    StructField("modified", StringType)))

  /** MediaInfo (M-) entity schema — Wikimedia Commons structured data
    * (round-16 verdict 7; public MediaInfo extension JSON). Captions
    * are the `labels` map; the claims key is named `statements` in
    * this dump family (same statement shape underneath); descriptions
    * exist but are unsupported (always empty) and M-entities carry no
    * aliases or sitelinks. */
  val mediainfo: StructType = StructType(Seq(
    StructField("type", StringType), // always "mediainfo"
    StructField("id", StringType),   // M-id
    StructField("labels", MapType(StringType, langValue)), // captions
    StructField("descriptions", MapType(StringType, langValue)),
    StructField("statements", MapType(StringType, ArrayType(statement))),
    StructField("lastrevid", LongType),
    StructField("modified", StringType)))
}

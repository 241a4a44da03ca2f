package graft.sources

import java.io.{ByteArrayInputStream, CharConversionException}
import java.nio.charset.{MalformedInputException, StandardCharsets}

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonProcessingException}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.model.ParserAnswer
import org.apache.hadoop.io.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JacksonParser, JSONOptions, JSONOptionsInRead, JsonInferSchema}
import org.apache.spark.sql.catalyst.json.graft.JsonShims
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.graft.SqlShims
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** JSON roads: the typed frames `spark.read.json` gives, read in process
  * for a file of at most [[Formats.DriverDecodeBytes]] ([[local]],
  * [[localLines]]) and by Spark's scans past it ([[answers]],
  * [[linesAnswers]]). Both roads answer the same schema (types,
  * nullability, column order), rows and PERMISSIVE corrupt records.
  *
  * `.json` — the reference's `ImportJSON` (`main.py:428-438`), which
  * delegates to `pd.read_json`: the WHOLE document is one JSON value
  * (records orient `[{...},{...}]` or columns orient `{"col":{"idx":v}}`),
  * not JSON-lines. The first structural character decides:
  *
  *  - `[` → records orient: `spark.read.option("multiLine", true).json`,
  *    Spark's native schema inference.
  *  - `{` → columns orient: driver-side pivot (outer keys = columns, inner
  *    keys = rows, first-appearance order) re-serialized to JSON-lines and
  *    read as `spark.read.json(Dataset[String])`, so type inference matches
  *    the records path. Columns-orient documents are driver-sized by
  *    construction in pandas too, so the driver pivot is not a scale
  *    regression.
  *
  * `.jsonl`/`.ndjson` (beyond the reference's extension table — THE
  * LLM-corpus interchange format: one JSON object per line) read as
  * Spark's line-delimited json source reads them: past the cap the scan
  * is splittable and fully distributed.
  *
  * In process, Catalyst's own pieces do the work the scans' jobs do:
  * `JsonInferSchema.inferField` folded with `compatibleRootType` and
  * `canonicalizeType` (what `JsonInferSchema.infer` runs per partition),
  * then `JacksonParser` under `FailureSafeParser`. Jackson's nesting cap
  * (`StreamReadConstraints`) bounds every parse, so a hostile nesting
  * depth ends as a corrupt record or a Failed answer, never a deep stack.
  * A frame whose only column is the corrupt record answers Failed on
  * every road: it holds no parseable record, and Spark refuses to query
  * it from a file.
  *
  * Spark's json scans cannot decode zstd without Hadoop's native library,
  * so past the cap the `.zst` forms decode through zstd-jni instead: lines
  * through the `graft-zstd-lines` DSv2 source, a whole document from one
  * capped decoded image ([[FsIO.readAllBytesDecodedCapped]], the shared
  * 256 MiB refusal — a decompression bomb refuses before any parse). The
  * same two decodes are the bulk road's raw-JSON rows ([[zstdDocument]],
  * [[zstdLines]]).
  */
object JsonImporter {

  /** The `.json` road past the cap. */
  def answers(spark: SparkSession, r: Route): Seq[ParserAnswer] = {
    val df =
      if (r.zstd) {
        // the json reader explodes a root array into one row per element
        // — the same rows the path scan's multiLine road yields
        val bytes = zstdDocument(r.path).getOrElse(return Nil)
        bytes(firstNonSpace(bytes)) match {
          case '[' =>
            import spark.implicits._
            spark.read.json(spark.createDataset(Seq(
              new String(bytes, StandardCharsets.UTF_8))))
          case _ => jsonLines(spark, pivotColumnsOrient(new ObjectMapper().readTree(bytes)))
        }
      } else firstStructuralChar(r.path) match {
        case Some('[') =>
          spark.read.option("multiLine", "true").json(r.path)
        case Some('{') => jsonLines(spark, pivotColumnsOrient(
          new ObjectMapper().readTree(FsIO.openDecoded(r.path))))
        case _ => return Nil
      }
    if (corruptOnly(spark, df.schema)) Nil else Seq(answer(r, df, None))
  }

  /** The `.jsonl`/`.ndjson` road past the cap. */
  def linesAnswers(spark: SparkSession, r: Route): Seq[ParserAnswer] = {
    // the json parse runs distributed over the decoded lines with the
    // same PERMISSIVE corrupt-record semantics as the path road
    val df =
      if (r.zstd)
        spark.read.json(
          spark.read.format("graft-zstd-lines").load(r.path)
            .select("value")
            .as[String](org.apache.spark.sql.Encoders.STRING))
      else spark.read.json(r.path)
    // a file of no parseable objects (empty, blank, or nothing but
    // corrupt lines) answers Failed, not raw garbage
    if (df.columns.isEmpty || corruptOnly(spark, df.schema)) Nil
    else Seq(answer(r, df, None))
  }

  /** [[answers]] in process. */
  def local(spark: SparkSession, r: Route): Seq[ParserAnswer] = {
    val bytes = r.bytes
    val i = firstNonSpace(bytes)
    if (i == bytes.length || (bytes(i) != '[' && bytes(i) != '{')) return Nil
    val (schema, rows) = SqlShims.withActive(spark) {
      if (bytes(i) == '{')
        read(spark, pivotColumnsOrient(new ObjectMapper().readTree(bytes)), Strings)
      else if (r.zstd) read(spark, Seq(new String(bytes, StandardCharsets.UTF_8)), Strings)
      else read(spark, Seq(bytes), Document)
    }
    if (corruptOnly(spark, schema)) Nil
    else Seq(answer(r, SqlShims.localFrame(spark, schema, rows), Some(rows.length.toLong)))
  }

  /** [[linesAnswers]] in process. */
  def localLines(spark: SparkSession, r: Route): Seq[ParserAnswer] = {
    val bytes = r.bytes
    val (schema, rows) = SqlShims.withActive(spark) {
      if (r.zstd) read(spark, newlineLines(bytes), Strings)
      else read(spark, hadoopLines(bytes), PathLines)
    }
    if (schema.isEmpty || corruptOnly(spark, schema)) Nil
    else Seq(answer(r, SqlShims.localFrame(spark, schema, rows), Some(rows.length.toLong)))
  }

  private def answer(r: Route, df: DataFrame, rows: Option[Long]): ParserAnswer =
    ParserAnswer(df, r.path, sheetName = r.format.sheet, engine = r.format.engine,
      knownRowCount = rows)

  private def corruptCol(spark: SparkSession): String =
    spark.conf.get("spark.sql.columnNameOfCorruptRecord", "_corrupt_record")

  private def corruptOnly(spark: SparkSession, schema: StructType): Boolean =
    schema.fieldNames.sameElements(Array(corruptCol(spark)))

  /** How one of Spark's JSON reads sees its records: the parser its
    * schema inference opens on a record, the parser its read opens, the
    * text a corrupt record leaves, whether the inference treats a runtime
    * failure as a corrupt record (it does not for whole files), and
    * whether the read is a file relation (whose schema refuses duplicate
    * column names). */
  private final case class Road[T](
      inferParser: (JsonFactory, T) => JsonParser,
      readParser: (JsonFactory, T) => JsonParser,
      literal: T => UTF8String,
      wholeFile: Boolean,
      relation: Boolean)

  /** `spark.read.option("multiLine", true).json(path)`: the file is one
    * record. */
  private val Document = Road[Array[Byte]](
    (f, b) => CreateJacksonParser.inputStream(f, new ByteArrayInputStream(b)),
    (f, b) => CreateJacksonParser.inputStream(f, new ByteArrayInputStream(b)),
    UTF8String.fromBytes(_), wholeFile = true, relation = true)

  /** `spark.read.json(path)`: each line a record. */
  private val PathLines = Road[Text](
    (f, t) => CreateJacksonParser.utf8String(f, utf8(t)),
    CreateJacksonParser.text(_, _),
    utf8, wholeFile = false, relation = true)

  /** `spark.read.json(Dataset[String])`: each string a record. */
  private val Strings = Road[String](
    (f, s) => CreateJacksonParser.utf8String(f, UTF8String.fromString(s)),
    CreateJacksonParser.string(_, _),
    UTF8String.fromString(_), wholeFile = false, relation = false)

  private def utf8(t: Text): UTF8String = UTF8String.fromBytes(t.getBytes, 0, t.getLength)

  /** One JSON read in process: the schema Spark's inference job would
    * find (one partition's fold, then `canonicalizeType`) and the rows its
    * scan would give, PERMISSIVE. */
  private def read[T](spark: SparkSession, records: Seq[T], road: Road[T])
      : (StructType, Seq[InternalRow]) = {
    val options = new JSONOptionsInRead(Map.empty[String, String],
      spark.conf.get("spark.sql.session.timeZone"), corruptCol(spark))
    val inferred = inferSchema(options, records, road)
    val schema = if (road.relation) SqlShims.relationSchema(spark, inferred) else inferred
    val columnNameOfCorruptRecord = options.columnNameOfCorruptRecord
    val parser = new JacksonParser(
      StructType(schema.filterNot(_.name == columnNameOfCorruptRecord)), options,
      allowArrayAsStructs = true)
    val safe = new FailureSafeParser[T](
      rec => parser.parse(rec, road.readParser, road.literal),
      options.parseMode, schema, columnNameOfCorruptRecord)
    // the safe parser reuses its result row: copy each one out
    (schema, records.flatMap(rec => safe.parse(rec).map(_.copy())))
  }

  private def inferSchema[T](options: JSONOptions, records: Seq[T], road: Road[T]): StructType = {
    val inference = new JsonInferSchema(options)
    val merge = JsonInferSchema.compatibleRootType(
      options.columnNameOfCorruptRecord, options.parseMode)
    val corrupt = StructType(Seq(StructField(options.columnNameOfCorruptRecord, StringType)))
    val factory = options.buildJsonFactory()
    val types = records.map { rec =>
      try {
        val p = road.inferParser(factory, rec)
        try { p.nextToken(); inference.inferField(p) }
        finally p.close()
      } catch {
        case _: JsonProcessingException | _: MalformedInputException |
            _: CharConversionException => corrupt
        case _: RuntimeException if !road.wholeFile => corrupt
      }
    }
    val root = types.reduceOption(merge).fold[DataType](StructType(Nil))(merge(StructType(Nil), _))
    // canonicalizeType erases empty structs, the empty root included
    JsonShims.canonicalizeType(inference, root, options)
      .collect { case s: StructType => s }.getOrElse(StructType(Nil))
  }

  /** The lines Hadoop's default line reader cuts, as `spark.read.json`
    * reads them: each ends at `\n`, `\r` or `\r\n`, a leading UTF-8 BOM
    * is skipped, and a final line end leaves no empty last line. */
  private def hadoopLines(b: Array[Byte]): Seq[Text] = {
    val lines = Seq.newBuilder[Text]
    def cut(from: Int, until: Int): Unit = {
      val t = new Text()
      t.set(b, from, until - from)
      lines += t
    }
    val bom = b.length >= 3 && b(0) == 0xef.toByte && b(1) == 0xbb.toByte && b(2) == 0xbf.toByte
    var start = if (bom) 3 else 0
    var i = start
    while (i < b.length) {
      if (b(i) == '\n' || b(i) == '\r') {
        cut(start, i)
        if (b(i) == '\r' && i + 1 < b.length && b(i + 1) == '\n') i += 1
        start = i + 1
      }
      i += 1
    }
    if (start < b.length) cut(start, b.length)
    lines.result()
  }

  /** The lines `graft-zstd-lines` reads: split on `\n` only, no empty
    * last line after a final `\n`. */
  private def newlineLines(b: Array[Byte]): Seq[String] =
    new String(b, StandardCharsets.UTF_8).split("\n", -1).toSeq match {
      case init :+ "" => init
      case ls => ls
    }

  private def jsonLines(spark: SparkSession, lines: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.json(spark.createDataset(lines))
  }

  private def firstNonSpace(bytes: Array[Byte]): Int = {
    var i = 0
    while (i < bytes.length &&
      Character.isWhitespace((bytes(i) & 0xff).toChar)) i += 1
    i
  }

  /** The capped decoded image of a zstd JSON document, if it opens with
    * `[` (records orient) or `{` (columns orient); None answers Failed. */
  def zstdDocument(path: String): Option[Array[Byte]] =
    FsIO.readAllBytesDecodedCapped(path).filter { bytes =>
      val i = firstNonSpace(bytes)
      i < bytes.length && (bytes(i) == '[' || bytes(i) == '{')
    }

  /** The lines of a zstd JSON-lines file, each the raw JSON text of one
    * row: split on the '\n' BYTE (unambiguous in UTF-8) straight off the
    * capped decoded image — one copy per line, no whole-file String; the
    * same strip-trailing-newline law as the text decode. None (Failed)
    * past the cap, for an empty file, or for a lone empty line. A big
    * CONFORMING corpus takes the frame-split road in `parseTreeAuto`. */
  def zstdLines(path: String): Option[Seq[IndexedSeq[String]]] = {
    val bytes = FsIO.readAllBytesDecodedCapped(path).getOrElse(return None)
    val rows = Seq.newBuilder[IndexedSeq[String]]
    var pos = 0
    while (pos <= bytes.length) {
      var k = pos
      while (k < bytes.length && bytes(k) != '\n') k += 1
      // trailing newline: no phantom last row (pos == length with nothing
      // pending only happens after a final '\n')
      if (k < bytes.length || pos < bytes.length)
        rows += IndexedSeq(new String(bytes, pos, k - pos, StandardCharsets.UTF_8))
      pos = k + 1
    }
    val out = rows.result()
    if (out.isEmpty || (out.lengthIs == 1 && out.head.head.isEmpty)) None
    else Some(out)
  }

  private def firstStructuralChar(path: String): Option[Char] = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      FsIO.openDecoded(path), StandardCharsets.UTF_8))
    try {
      var c = in.read()
      while (c != -1 && Character.isWhitespace(c)) c = in.read()
      if (c == -1) None else Some(c.toChar)
    } finally in.close()
  }

  /** `{"a":{"0":1,"1":2},"b":{"0":"x","1":"y"}}` → lines
    * `{"a":1,"b":"x"}`, `{"a":2,"b":"y"}` — pandas columns-orient
    * semantics (`pd.read_json` default for a top-level object whose values
    * are objects), one JSON object per row. The caller supplies the
    * parsed root, so a byte image and a stream share one pivot. */
  private def pivotColumnsOrient(root: JsonNode): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val mapper = new ObjectMapper()
    require(root.isObject, "columns-orient JSON must be an object")
    val cols = root.fieldNames().asScala.toSeq
    // row index keys in first-appearance order across columns
    val rowKeys = scala.collection.mutable.LinkedHashSet.empty[String]
    cols.foreach { c =>
      val v = root.get(c)
      require(v.isObject, "columns-orient JSON values must be objects")
      v.fieldNames().asScala.foreach(rowKeys += _)
    }
    rowKeys.toSeq.map { rk =>
      val row = mapper.createObjectNode()
      cols.foreach { c =>
        val cell = root.get(c).get(rk)
        if (cell != null) row.set[JsonNode](c, cell)
      }
      mapper.writeValueAsString(row)
    }
  }
}

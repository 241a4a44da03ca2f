package graft.sources

import java.nio.charset.StandardCharsets

import graft.model.ParserAnswer
import org.apache.spark.sql.{DataFrame, SparkSession}

/** JSON driver roads.
  *
  * `.json` — the reference's `ImportJSON` (`main.py:428-438`), which
  * delegates to `pd.read_json`: the WHOLE document is one JSON value
  * (records orient `[{...},{...}]` or columns orient `{"col":{"idx":v}}`),
  * not JSON-lines. We sniff the first structural character driver-side:
  *
  *  - `[` → records orient: `spark.read.option("multiLine", true).json`,
  *    Spark's native schema inference (executor-side parse — scales).
  *  - `{` → columns orient: driver-side pivot (outer keys = columns, inner
  *    keys = rows, first-appearance order) re-serialized to JSON-lines and
  *    fed to `spark.read.json` so type inference matches the records path.
  *    Columns-orient documents are driver-sized by construction in pandas
  *    too, so the driver pivot is not a scale regression.
  *
  * `.jsonl`/`.ndjson` (beyond the reference's extension table — THE
  * LLM-corpus interchange format: one JSON object per line) read through
  * Spark's NATIVE line-delimited json source, so unlike the
  * whole-document orients the scan is splittable and fully distributed,
  * schema inference and column pruning reach the reader, and a multi-TB
  * corpus file parallelizes across executors with no custom code at all.
  *
  * Spark's json scans cannot decode zstd without Hadoop's native library,
  * so the `.zst` forms decode through zstd-jni instead: lines through the
  * `graft-zstd-lines` DSv2 source, a whole document from one capped
  * decoded image ([[FsIO.readAllBytesDecodedCapped]], the shared 256 MiB
  * refusal — a decompression bomb refuses before any parse). The same
  * two decodes are the bulk road's raw-JSON rows ([[zstdDocument]],
  * [[zstdLines]]).
  */
object JsonImporter {

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
          case _ => pivotColumnsOrient(spark,
            new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes))
        }
      } else firstStructuralChar(r.path) match {
        case Some('[') =>
          spark.read.option("multiLine", "true").json(r.path)
        case Some('{') => pivotColumnsOrient(spark,
          new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(FsIO.openDecoded(r.path)))
        case _ => return Nil
      }
    Seq(ParserAnswer(df, r.path, sheetName = r.format.sheet, engine = r.format.engine))
  }

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
    // PERMISSIVE mode turns a file of entirely-unparseable lines into a
    // lone corrupt-record column, not an empty schema — that is "no
    // parseable objects" too and must answer Failed, not raw garbage.
    val corruptCol =
      spark.conf.get("spark.sql.columnNameOfCorruptRecord", "_corrupt_record")
    if (df.columns.isEmpty || df.columns.sameElements(Array(corruptCol))) Nil
    else Seq(ParserAnswer(df, r.path, sheetName = r.format.sheet, engine = r.format.engine))
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

  /** `{"a":{"0":1,"1":2},"b":{"0":"x","1":"y"}}` → rows `(1,"x"),(2,"y")`
    * — pandas columns-orient semantics (`pd.read_json` default for a
    * top-level object whose values are objects). The caller supplies the
    * parsed root so the zst road's capped byte image and the plain road's
    * stream share one pivot. */
  private def pivotColumnsOrient(
      spark: SparkSession,
      root: com.fasterxml.jackson.databind.JsonNode): DataFrame = {
    import com.fasterxml.jackson.databind.ObjectMapper
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
    val lines = rowKeys.toSeq.map { rk =>
      val row = mapper.createObjectNode()
      cols.foreach { c =>
        val cell = root.get(c).get(rk)
        if (cell != null) row.set[com.fasterxml.jackson.databind.JsonNode](c, cell)
      }
      mapper.writeValueAsString(row)
    }
    import spark.implicits._
    spark.read.json(spark.createDataset(lines))
  }
}

package graft.queries

import java.nio.charset.StandardCharsets

import graft.operators.WebCorpus
import graft.sources.html.HtmlParser
import graft.sources.warc.WarcReader
import org.apache.spark.sql.functions._

/** Web-corpus ingestion suite — the curation steps EVERY web-scale LLM
  * pipeline runs first: HTML → main content (q176, jusText/Readability
  * lineage) and WARC record-level ingestion feeding it (q179, the
  * CommonCrawl entry path). Both run the REAL lenient readers
  * ([[graft.sources.html.HtmlParser]], [[graft.sources.warc.WarcReader]])
  * over fixture bytes whose every byte the DuckDB oracle reconstructs from
  * documents.text + doc_id (the q50/q173 discipline) — a one-byte parse or
  * framing error diverges the hash. */
object WebQueries {

  /** Main-content (boilerplate) extraction — the single most common
    * real-world LLM-ingestion step: wrap each document in a synthetic page
    * with planted nav/sidebar/footer boilerplate
    * ([[WebCorpus.page]]), parse it back with the lenient tag reader,
    * segment into blocks, and classify each block with the jusText-lite
    * integer gate (boilerplate iff < 5 words or link density ≥ 3000 bp).
    * Per document: block accounting, word mass on each side of the gate,
    * boilerplate ppm, and the md5 of the extracted main text — the md5
    * pins the EXTRACTION byte-exactly, not just its statistics.
    *
    * Scale shape: the whole pipeline is one partition-wise map over the
    * document scan (build → tokenize → segment → classify stay inside the
    * scan task; no HTML ever shuffles — only the per-doc stat row leaves),
    * then the presentation sort. At 100 TB this runs at scan speed. */
  val q176 = Q(
    "q176_html_extract",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { rows =>
          rows.map { case (id, text) =>
            val html = WebCorpus.page(id, WebCorpus.tokens(text))
            val bs = HtmlParser.blocks(html)
            val (boiler, main) = bs.partition(HtmlParser.isBoiler(_))
            val mw = main.foldLeft(0L)(_ + _.words)
            val bw = boiler.foldLeft(0L)(_ + _.words)
            (id, bs.length.toLong, boiler.length.toLong, mw, bw,
              1000000L * bw / (mw + bw), main.map(_.text).mkString(" "))
          }
        }
        .toDF("doc_id", "n_blocks", "n_boiler", "main_words",
          "boiler_words", "boiler_ppm", "main_text")
        .withColumn("main_md5", md5(col("main_text")))
        .drop("main_text")
        .orderBy("doc_id")
    },
    // The oracle replays the generative arithmetic: blocks are nav + side
    // + footer (4+5+4 words, all boilerplate by construction) plus
    // ⌈nw/20⌉ paragraphs; only a 1–4-word trailing chunk fails the
    // min-words gate, so main text = the first nw − tail tokens.
    Some("""
      WITH d AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
                                   x -> length(x) > 0) AS ws
        FROM documents),
      s AS (
        SELECT doc_id, ws, len(ws) AS nw, (len(ws) + 19) // 20 AS nchunks,
               CASE WHEN len(ws) % 20 BETWEEN 1 AND 4
                    THEN len(ws) % 20 ELSE 0 END AS tail_drop
        FROM d)
      SELECT doc_id,
             CAST(3 + nchunks AS BIGINT) AS n_blocks,
             CAST(3 + CASE WHEN tail_drop > 0 THEN 1 ELSE 0 END AS BIGINT)
               AS n_boiler,
             CAST(nw - tail_drop AS BIGINT) AS main_words,
             CAST(13 + tail_drop AS BIGINT) AS boiler_words,
             1000000 * CAST(13 + tail_drop AS BIGINT)
               // CAST(nw + 13 AS BIGINT) AS boiler_ppm,
             md5(array_to_string(ws[1 : CAST(nw - tail_drop AS INT)], ' '))
               AS main_md5
      FROM s ORDER BY doc_id""")
  )

  /** WARC record ingestion end-to-end — the CommonCrawl entry path: the
    * corpus is assembled into REAL ISO 28500 WARC shards (8 response
    * records each, [[WebCorpus.warcRecord]]), the shards are split back
    * with the record-level reader ([[WarcReader.records]] — version line,
    * case-insensitive headers, Content-Length framing), and every
    * recovered record runs q176's main-content extraction. Per record:
    * shard/position accounting, the doc_id parsed back out of
    * WARC-Target-URI, the framed Content-Length, the payload md5 (a
    * one-byte framing error shifts the slice and diverges it), and the
    * extracted main-word mass.
    *
    * Scale shape: shard assembly is ONE doc_id-keyed exchange (the same
    * exchange that writes a corpus out — linear, 8-doc groups, no skew);
    * the split + parse + extraction run inside the consuming task;
    * payloads never shuffle again (only stat rows + 32-char digests
    * leave). At 100 TB the fixture assembly is replaced by reading real
    * WARC files ([[graft.operators.BulkIngest]]'s catalog road) and the
    * operator is a pure scan-speed map. */
  val q179 = Q(
    "q179_warc_ingest",
    (s, dir) => {
      import s.implicits._
      val recs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .groupByKey(_._1 / WebCorpus.ShardDocs)
        .mapGroups { (shard, it) =>
          val docs = it.toSeq.sortBy(_._1)
          val bytes = docs.iterator.map { case (id, text) =>
            WebCorpus.warcRecord(id, WebCorpus.page(id, WebCorpus.tokens(text)))
          }.toArray
          val total = bytes.foldLeft(0)(_ + _.length)
          val warc = new Array[Byte](total)
          var off = 0
          bytes.foreach { b =>
            System.arraycopy(b, 0, warc, off, b.length); off += b.length
          }
          (shard, warc)
        }
        .flatMap { case (shard, warc) =>
          WarcReader.records(warc).zipWithIndex.map { case (r, idx) =>
            val uri = r.header("warc-target-uri").getOrElse("")
            // -1 on a malformed URI: a framing bug then diverges the hash
            // loudly instead of crashing the task
            val docId = uri.substring(uri.lastIndexOf('/') + 1)
              .toLongOption.getOrElse(-1L)
            val html = new String(r.payload, StandardCharsets.UTF_8)
            val mainWords = HtmlParser.blocks(html)
              .filterNot(HtmlParser.isBoiler(_)).foldLeft(0L)(_ + _.words)
            (shard, idx.toLong, docId, r.payload.length.toLong, r.payload,
              mainWords)
          }
        }
        .toDF("shard_id", "rec_idx", "doc_id", "content_length", "payload",
          "main_words")
      recs
        .withColumn("payload_md5", md5(col("payload")))
        .drop("payload")
        .select("shard_id", "rec_idx", "doc_id", "content_length",
          "payload_md5", "main_words")
        .orderBy("shard_id", "rec_idx")
    },
    // The oracle reconstructs each record's EXACT page bytes from
    // documents.text (template concatenation mirrors WebCorpus.page
    // byte-for-byte), so payload_md5/content_length pin the WARC framing
    // and the page builder at once. The shard constant interpolates from
    // WebCorpus.ShardDocs so the two sides cannot silently diverge.
    Some(s"""
      WITH d AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                                   x -> length(x) > 0) AS ws
        FROM documents),
      s AS (
        SELECT doc_id, ws, len(ws) AS nw,
               CAST((len(ws) + 19) // 20 AS INT) AS nchunks
        FROM d),
      page AS (
        SELECT doc_id, nw,
               '<html><head><title>Doc ' || doc_id ||
               '</title></head><body>' || chr(10) ||
               '<nav class="menu"><a href="/">home</a> ' ||
               '<a href="/about">about us</a> ' ||
               '<a href="/contact">contact</a></nav>' || chr(10) ||
               array_to_string(list_transform(range(0, nchunks), k ->
                 '<p>' || array_to_string(
                   ws[CAST(k * 20 + 1 AS INT) :
                      least(CAST(k * 20 + 20 AS INT), CAST(nw AS INT))],
                   ' ') || '</p>' || chr(10) ||
                 CASE WHEN k = 0
                      THEN '<div class="side">related reading ' ||
                           '<a href="/more">more stories here</a></div>'
                           || chr(10)
                      ELSE '' END), '') ||
               '<footer>copyright <a href="/terms">terms</a> ' ||
               '<a href="/privacy">privacy</a> ' ||
               '<a href="/imprint">imprint</a></footer>' || chr(10) ||
               '</body></html>' || chr(10) AS html
        FROM s)
      SELECT doc_id // ${WebCorpus.ShardDocs} AS shard_id,
             ROW_NUMBER() OVER (PARTITION BY doc_id // ${WebCorpus.ShardDocs}
               ORDER BY doc_id) - 1 AS rec_idx,
             doc_id,
             CAST(strlen(html) AS BIGINT) AS content_length,
             md5(html) AS payload_md5,
             CAST(nw - CASE WHEN nw % 20 BETWEEN 1 AND 4
                            THEN nw % 20 ELSE 0 END AS BIGINT) AS main_words
      FROM page ORDER BY shard_id, rec_idx""")
  )

  /** SQLite ingestion end-to-end — the single-file-database twin of q179:
    * the corpus is written into REAL SQLite databases executor-side
    * (8-doc shards, [[graft.sources.sqlite.SqliteWriter]] — from-spec
    * pages, serial types, the overflow split rule) and read back with the
    * REAL reader ([[graft.sources.sqlite.SqliteParser]] — header, master
    * schema parse, leaf walk, overflow chains, the INTEGER PRIMARY KEY
    * rowid alias: the id column is STORED NULL and recovered from the
    * cell rowid). The body column is the text repeated ×100, pushing most
    * records past the 4 KiB page's local maximum so the overflow
    * machinery is exercised on every shard, and multi-leaf trees with an
    * interior root on the larger ones. Per row: shard/rowid accounting,
    * the parsed schema's column count and ipk index (pins the CREATE
    * TABLE round-trip), the recovered lang/n_chars values, and the body's
    * md5 + length (a one-byte framing or chain error diverges them).
    *
    * Scale shape: q179's — ONE doc_id-keyed exchange assembles shards
    * (the corpus-write exchange, linear, no skew); the write + read-back
    * run inside the consuming task against a task-local temp file;
    * bodies are reduced to md5/length BEFORE the presentation sort, so
    * only stat rows and digests shuffle again. */
  val q182 = Q(
    "q182_sqlite_roundtrip",
    (s, dir) => {
      import s.implicits._
      import graft.sources.sqlite.{SqliteParser, SqliteWriter}
      import SqliteParser.{IntCell, NullCell, TextCell}
      val rt = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
        .as[(Long, String, Long, String)]
        .groupByKey(_._1 / WebCorpus.ShardDocs)
        .flatMapGroups { (shard, it) =>
          val docs = it.toSeq.sortBy(_._1)
          val rows = docs.map { case (id, lang, nch, text) =>
            id -> Seq[SqliteParser.Cell](NullCell, TextCell(lang),
              IntCell(nch), TextCell(text * 100))
          }
          val bytes = SqliteWriter.build(
            "docs", Seq("id", "lang", "n_chars", "body"), ipk = 0, rows)
          // the whole database round-trips in-task: the reader runs on the
          // byte image directly (BytesSource) — no temp file, no per-page
          // filesystem opens
          val src = SqliteParser.BytesSource(bytes)
          val h = SqliteParser.header(src)
            .getOrElse(sys.error("writer produced an unreadable header"))
          val t = SqliteParser.tables(src, h).head
          val leaves = SqliteParser.leafPages(src, h, t.rootPage)
            .getOrElse(sys.error("writer produced a non-table tree"))
          // bodies reduce to md5/length INSIDE the task (one digest
          // instance per group, q187's discipline): the recovered
          // ~100 KB body strings never cross the Dataset encoder —
          // previously every body was re-encoded into an UnsafeRow just
          // so a projection could immediately digest and drop it.
          // md5(body UTF-8 bytes) ≡ Spark's md5(StringType) and
          // codePointCount ≡ Spark's length() — values unchanged.
          val md = graft.functions.Md5Prefix64.md5Instance()
          leaves.flatMap(pg => SqliteParser.leafRows(src, h, pg)).map {
            case (rowid, cells) =>
              val lang = cells(1) match { case TextCell(v) => v; case _ => "" }
              val nch = cells(2) match { case IntCell(v) => v; case _ => -1L }
              val body = cells(3) match { case TextCell(v) => v; case _ => "" }
              md.reset()
              val hx = graft.functions.Md5Prefix64.hex(
                md.digest(body.getBytes(StandardCharsets.UTF_8)))
              (shard, rowid, t.cols.length.toLong, t.ipk.toLong,
                lang, nch, hx,
                body.codePointCount(0, body.length).toLong)
          }.iterator
        }
        .toDF("shard_id", "doc_id", "n_cols", "ipk_col", "lang_rt",
          "n_chars_rt", "body_md5", "body_len")
      rt.orderBy("doc_id")
    },
    // the oracle recomputes every recovered field straight from
    // documents — any divergence in the writer's framing, the reader's
    // walk, the schema parse, or the rowid alias shows up as a value
    // mismatch on some row
    Some(s"""
      SELECT doc_id // ${WebCorpus.ShardDocs} AS shard_id, doc_id,
             CAST(4 AS BIGINT) AS n_cols, CAST(0 AS BIGINT) AS ipk_col,
             lang AS lang_rt, n_chars AS n_chars_rt,
             md5(repeat(text, 100)) AS body_md5,
             CAST(length(repeat(text, 100)) AS BIGINT) AS body_len
      FROM documents ORDER BY doc_id""")
  )

  /** Zstd corpus ingestion end-to-end — the `.zst` twin of q179/q182 for
    * the compression The Pile-era corpora actually ship: the corpus is
    * assembled into REAL `.tsv.zst` shards (8 docs each, zstd-jni
    * `ZstdOutputStream` — the exact codec class `FsIO.openDecoded`
    * routes `.zst` through), each shard written to a task-local temp
    * file and parsed back through the REAL ingestion route
    * ([[graft.operators.BulkIngest.parseOne]]: compression-suffix peel →
    * `.tsv` fixed-tab road → `ZstdInputStream` decode → line split →
    * cell grid), then deleted. Per recovered row: shard/position
    * accounting, the doc_id/lang/text-digest/char-count cells — a single
    * flipped byte anywhere in the compress→decode→frame chain diverges
    * the gate hash.
    *
    * Scale shape: shard assembly is ONE doc_id-keyed exchange (8-doc
    * groups, no skew) and the whole roundtrip runs inside the consuming
    * task; payload bytes never shuffle (only the fixed-width stat/digest
    * cells leave). At 100 TB the fixture assembly is replaced by reading
    * real `.jsonl.zst`/`.tsv.zst` files through the same parseOne route. */
  val q187 = Q(
    "q187_zst_roundtrip",
    (s, dir) => {
      import s.implicits._
      val rt = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
        .as[(Long, String, Long, String)]
        .groupByKey(_._1 / WebCorpus.ShardDocs)
        .flatMapGroups { (shard, it) =>
          val docs = it.toSeq.sortBy(_._1)
          // thread-local digest + table-lookup hex (Md5Prefix64 helpers,
          // r15 pass): the per-byte "%02x".format parsed a format string
          // and boxed per digest byte on every document
          val md5 = graft.functions.Md5Prefix64.md5Instance()
          val tsv = docs.map { case (id, lang, nch, text) =>
            md5.reset()
            val hx = graft.functions.Md5Prefix64.hex(
              md5.digest(text.getBytes(StandardCharsets.UTF_8)))
            s"$id\t$lang\t$hx\t$nch"
          }.mkString("", "\n", "\n")
          val tmp = java.nio.file.Files.createTempFile("graft_shard", ".tsv.zst")
          try {
            val out = new com.github.luben.zstd.ZstdOutputStream(
              java.nio.file.Files.newOutputStream(tmp))
            try out.write(tsv.getBytes(StandardCharsets.UTF_8))
            finally out.close()
            graft.operators.BulkIngest.parseOne(tmp.toString).map { r =>
              (shard, r.row_idx, r.engine, r.parse_info,
                r.cells.headOption.getOrElse(""),
                if (r.cells.length > 1) r.cells(1) else "",
                if (r.cells.length > 2) r.cells(2) else "",
                if (r.cells.length > 3) r.cells(3) else "")
            }.iterator
          } finally java.nio.file.Files.deleteIfExists(tmp)
        }
        .toDF("shard_id", "row_idx", "engine", "status", "c0", "c1", "c2", "c3")
      rt.select(col("shard_id"), col("row_idx"), col("engine"), col("status"),
          col("c0").cast("long").as("doc_id"), col("c1").as("lang_rt"),
          col("c2").as("text_md5"), col("c3").cast("long").as("n_chars_rt"))
        .orderBy("shard_id", "row_idx")
    },
    // the oracle recomputes every recovered cell straight from documents;
    // the shard constant interpolates from WebCorpus.ShardDocs (ADVICE
    // r14 #3 — a ShardDocs change must move both sides together)
    Some(s"""
      SELECT doc_id // ${WebCorpus.ShardDocs} AS shard_id,
             ROW_NUMBER() OVER (PARTITION BY doc_id // ${WebCorpus.ShardDocs}
               ORDER BY doc_id) - 1 AS row_idx,
             'ImportText' AS engine, 'OK' AS status,
             doc_id, lang AS lang_rt, md5(text) AS text_md5,
             n_chars AS n_chars_rt
      FROM documents ORDER BY shard_id, row_idx""")
  )

  /** Tar WebDataset shard ingestion end-to-end — the container road for
    * the layout multimodal training corpora actually ship (img2dataset
    * output: `key.txt` + `key.gif` + `key.json` member triples per
    * sample): the corpus is assembled into REAL ustar shards executor-side
    * ([[graft.sources.tar.TarBuild]] — from-spec headers, octal numerics,
    * unsigned checksums, block padding), each shard written to a
    * task-local temp file under a per-shard ROTATING codec suffix
    * (`.tar` / `.tar.gz` / `.tar.zst` — all three decode doors gate every
    * run) and cataloged through the REAL ingestion route
    * ([[graft.operators.BulkIngest.parseOne]]: suffix peel → member walk →
    * streamed payload digests), then paired back into samples
    * ([[graft.operators.WebDataset.samples]] — contiguous key runs) with
    * the image member decoded through the REAL GIF road
    * ([[Multimodal.MediaCodec.dhashBands]]). Per sample: shard/position
    * accounting, the doc_id parsed from the key, member count + extension
    * sequence, the caption md5 AS THE CATALOG ROAD DIGESTED IT (pinning
    * the walk's bounded payload streaming, not just the builder), caption
    * byte length, the four dHash bands (the oracle replays them from
    * pixel arithmetic alone — q184's discipline), and `catalog_ok` = 1
    * iff the catalog road reproduced every member's name/typeflag/size/
    * order/status exactly.
    *
    * Scale shape: q179/q182/q187's — ONE doc_id-keyed exchange assembles
    * shards (8-doc groups, no skew); build + write + catalog + pairing +
    * decode all run inside the consuming task; payload bytes never
    * shuffle (only fixed-width stats and 32-char digests leave). At
    * 100 TB the fixture assembly is replaced by reading real WebDataset
    * shards through the same parseOne/memberBatches roads. */
  val q188 = Q(
    "q188_tar_webdataset",
    (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal.{Containers, MediaCodec}
      import graft.operators.WebDataset
      import graft.sources.tar.TarBuild
      val rt = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text"))
        .as[(Long, String, String)]
        .groupByKey(_._1 / WebCorpus.ShardDocs)
        .flatMapGroups { (shard, it) =>
          val docs = it.toSeq.sortBy(_._1)
          val members: Seq[(String, Array[Byte])] =
            docs.flatMap { case (id, lang, text) =>
              val key = "%09d".format(id)
              val w = (16 + math.floorMod(id * 19 + 7, 40L)).toInt
              val h = (16 + math.floorMod(id * 11 + 5, 24L)).toInt
              val a = (1 + math.floorMod(id, 7L)).toInt
              val b = (1 + math.floorMod(id, 6L)).toInt
              val c = math.floorMod(id * 5, 256L).toInt
              val px = new Array[Byte](w * h)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  px(y * w + x) = ((x * a + y * b + c) % 256).toByte
                  x += 1
                }
                y += 1
              }
              Seq(
                s"$key.txt" -> text.getBytes(StandardCharsets.UTF_8),
                s"$key.gif" ->
                  Containers.gifGray8(w, h, px, interlaced = id % 3 == 0),
                s"$key.json" ->
                  s"""{"doc_id":$id,"lang":"$lang"}"""
                    .getBytes(StandardCharsets.UTF_8))
            }
          val bytes = TarBuild.archive(members)
          // route 1 — the real ingestion road: suffix dispatch → member
          // catalog, codec rotating per shard so plain/gzip/zstd all gate
          val suffix = (shard % 3) match {
            case 0 => ".tar"; case 1 => ".tar.gz"; case _ => ".tar.zst"
          }
          val tmp = java.nio.file.Files.createTempFile("graft_shard", suffix)
          val catalog =
            try {
              val raw = java.nio.file.Files.newOutputStream(tmp)
              val out: java.io.OutputStream = suffix match {
                case ".tar" => raw
                case ".tar.gz" => new java.util.zip.GZIPOutputStream(raw)
                case _ => new com.github.luben.zstd.ZstdOutputStream(raw)
              }
              try out.write(bytes) finally out.close()
              graft.operators.BulkIngest.parseOne(tmp.toString)
            } finally java.nio.file.Files.deleteIfExists(tmp)
          val catOk = catalog.length == members.length &&
            catalog.zip(members).zipWithIndex.forall {
              case ((r, (n, d)), i) =>
                r.engine == graft.sources.Formats.Tar.engine && r.parse_info == "OK" &&
                  r.sheet == graft.sources.Formats.Tar.sheet && r.row_idx == i.toLong &&
                  r.cells.length == 4 && r.cells.head == n &&
                  r.cells(1) == "0" && r.cells(2) == d.length.toString
            }
          val md5ByName = catalog
            .filter(_.cells.length == 4)
            .map(r => r.cells.head -> r.cells(3)).toMap
          // route 2 — sample pairing + the real image decode
          WebDataset.samples(new java.io.ByteArrayInputStream(bytes))
            .zipWithIndex.map { case (sm, idx) =>
              val docId = sm.key.toLongOption.getOrElse(-1L)
              val exts = sm.members.map(_._1).mkString("|")
              val capLen = sm.members
                .collectFirst { case ("txt", p) => p.length.toLong }
                .getOrElse(-1L)
              val bands = sm.members.collectFirst { case ("gif", p) => p }
                .flatMap(p => MediaCodec.dhashBands(p))
                .getOrElse(Array(-1, -1, -1, -1))
              (shard, idx.toLong, docId, sm.members.length.toLong, exts,
                md5ByName.getOrElse(s"${sm.key}.txt", ""), capLen,
                bands(0).toLong, bands(1).toLong, bands(2).toLong,
                bands(3).toLong, if (catOk) 1L else 0L)
            }.iterator
        }
        .toDF("shard_id", "rec_idx", "doc_id", "n_members", "exts",
          "caption_md5", "caption_len", "b0", "b1", "b2", "b3",
          "catalog_ok")
      rt.orderBy("shard_id", "rec_idx")
    },
    // the oracle replays the grouping and every recovered field straight
    // from documents — the dHash bands from pixel arithmetic alone
    // (q184's machinery, this query's constants), the caption digest from
    // md5(text) (which the Spark side sources from the CATALOG's streamed
    // digest, so the member walk itself is hash-pinned)
    Some(s"""
      WITH imgs AS MATERIALIZED (
        SELECT doc_id,
               16 + (doc_id*19+7) % 40 AS w, 16 + (doc_id*11+5) % 24 AS h,
               1 + doc_id % 7 AS a, 1 + doc_id % 6 AS b,
               (doc_id*5) % 256 AS c
        FROM documents),
      ys AS (SELECT doc_id, w, h, a, b, c,
                    CAST(unnest(range(0, h)) AS BIGINT) AS y FROM imgs),
      xys AS (SELECT doc_id, w, h, a, b, c, y,
                     CAST(unnest(range(0, w)) AS BIGINT) AS x FROM ys),
      cells AS MATERIALIZED (
        SELECT doc_id,
               ((8*(y+1)-1) // h) * 9 + (9*(x+1)-1) // w AS j,
               CAST(SUM((x*a + y*b + c) % 256) // COUNT(*) AS BIGINT) AS p
        FROM xys GROUP BY doc_id, j),
      bitvals AS (
        SELECT a.doc_id, a.j // 9 * 8 + a.j % 9 AS bit,
               CASE WHEN b.p > a.p THEN 1 ELSE 0 END AS v
        FROM cells a JOIN cells b ON a.doc_id = b.doc_id AND b.j = a.j + 1
        WHERE a.j % 9 < 8),
      bands AS MATERIALIZED (
        SELECT doc_id,
               CAST(SUM(CASE WHEN bit // 16 = 0
                 THEN v * (1::BIGINT << CAST(bit % 16 AS INT)) ELSE 0 END)
                 AS BIGINT) AS b0,
               CAST(SUM(CASE WHEN bit // 16 = 1
                 THEN v * (1::BIGINT << CAST(bit % 16 AS INT)) ELSE 0 END)
                 AS BIGINT) AS b1,
               CAST(SUM(CASE WHEN bit // 16 = 2
                 THEN v * (1::BIGINT << CAST(bit % 16 AS INT)) ELSE 0 END)
                 AS BIGINT) AS b2,
               CAST(SUM(CASE WHEN bit // 16 = 3
                 THEN v * (1::BIGINT << CAST(bit % 16 AS INT)) ELSE 0 END)
                 AS BIGINT) AS b3
        FROM bitvals GROUP BY doc_id)
      SELECT d.doc_id // ${WebCorpus.ShardDocs} AS shard_id,
             ROW_NUMBER() OVER (
               PARTITION BY d.doc_id // ${WebCorpus.ShardDocs}
               ORDER BY d.doc_id) - 1 AS rec_idx,
             d.doc_id,
             CAST(3 AS BIGINT) AS n_members,
             'txt|gif|json' AS exts,
             md5(d.text) AS caption_md5,
             CAST(strlen(d.text) AS BIGINT) AS caption_len,
             b.b0, b.b1, b.b2, b.b3,
             CAST(1 AS BIGINT) AS catalog_ok
      FROM documents d JOIN bands b ON b.doc_id = d.doc_id
      ORDER BY shard_id, rec_idx""")
  )

  val all: Seq[Q] = Seq(q176, q179, q182, q187, q188)
}

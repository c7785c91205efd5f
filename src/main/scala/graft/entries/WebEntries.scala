package graft
package entries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.pipeline.Web
import Fixtures._

/** web_* and source_* entries: URL and HTML curation over
  * synthesized pages, and the file-format sources. */
private[graft] object WebEntries {

  /** Deterministic messy-URL synthesis for the web_* gates (documents
    * carries no URL column): every [[graft.pipeline.Web.normalizeUrl]]
    * rule is exercised by some doc_id residue class — mixed case,
    * explicit default ports (scheme-consistent by construction),
    * tracking params in leading and trailing positions, fragments. The
    * DuckDB oracles replicate this construction verbatim. */
  private def webMessyUrl: Column = {
    val d = col("doc_id")
    val sch = when(d % 2 === 0, lit("https")).otherwise(lit("http"))
    val sub = when(d % 5 === 0, lit("www.")).when(d % 5 === 2, lit("cdn."))
      .when(d % 5 === 3, lit("m.")).otherwise(lit(""))
    val tld = when(d % 4 === 0, lit(".com")).when(d % 4 === 1, lit(".co.uk"))
      .when(d % 4 === 2, lit(".org")).otherwise(lit(".io"))
    val port = when(d % 6 === 0, lit(":443")).when(d % 6 === 3, lit(":80"))
      .otherwise(lit(""))
    val head = concat(sch, lit("://"), sub, col("source"), tld, port)
    val headCased = when(d % 7 === 0, upper(head)).otherwise(head)
    val q = when(d % 3 === 0,
        concat(lit("?utm_source=feed&id="), d.cast("string")))
      .when(d % 3 === 1, concat(lit("?id="), d.cast("string"),
        lit("&utm_campaign=x&fbclid=abc")))
      .otherwise(lit(""))
    val frag = when(d % 4 === 0, lit("#section-2")).otherwise(lit(""))
    concat(headCased, lit("/"), col("lang"), lit("/doc-"),
      d.cast("string"), q, frag)
  }

  /** Clean host-only URL synthesis for the per-domain gates: subdomain
    * by doc residue, TLD by doc residue (so each source spans several
    * registered domains, including a two-level-suffix one). */
  private def webSimpleUrl: Column = {
    val d = col("doc_id")
    val sub = when(d % 3 === 0, lit("www.")).when(d % 3 === 1, lit("m."))
      .otherwise(lit(""))
    val tld = when(d % 4 === 0, lit(".com")).when(d % 4 === 1, lit(".co.uk"))
      .when(d % 4 === 2, lit(".org")).otherwise(lit(".io"))
    concat(lit("https://"), sub, col("source"), tld, lit("/doc-"),
      d.cast("string"))
  }

  def entries: Seq[Entry] = Seq(
    // corpus audit profile: per-source volume, token mass, vocabulary
    // width, length extremes — the inspection step every ingest pipeline
    // runs before training; one pass, map-side-combined
    // JSONL corpus ingestion (the LLM-corpus wire format): documents
    // round-trip through jsonl shards plus one injected corrupt line;
    // the gate proves content identity (count + two content moments)
    // and that the bad line lands in quarantine, not in the corpus
    Entry("source_jsonl", (s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructType}
      val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      docs.write.mode("overwrite").json(s"$tmp/shards")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$tmp/shards/zz_corrupt.json"),
        "{this line is not json\n")
      val schema = new StructType()
        .add("doc_id", LongType).add("text", StringType)
      val (clean, quarantine) =
        graft.sources.JsonlCorpus.read(s, s"$tmp/shards", schema)
      clean.agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(length(col("text"))).cast("long").as("sum_chars"),
          sum(col("doc_id") * length(col("text"))).cast("long")
            .as("sum_id_chars"))
        .crossJoin(quarantine
          .agg(count(lit(1)).cast("long").as("n_corrupt")))
    },
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        | CAST(sum(doc_id * length(text)) AS BIGINT) AS sum_id_chars,
        | CAST(1 AS BIGINT) AS n_corrupt
        |FROM documents""".stripMargin),

    // CSV ingestion with the same explicit-schema + quarantine
    // contracts as source_jsonl: one header line dropped per shard, a
    // planted malformed line lands in the quarantine, the clean-side
    // checksums match the oracle over the parquet original
    Entry("source_csv", (s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructType}
      val tmp = java.nio.file.Files.createTempDirectory("graft_csv").toString
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      docs.write.mode("overwrite").option("header", "true")
        .csv(s"$tmp/shards")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$tmp/shards/zz_corrupt.csv"),
        "doc_id,source,n_chars\nnot-a-number,srcX,oops\n")
      val schema = new StructType()
        .add("doc_id", LongType).add("source", StringType)
        .add("n_chars", LongType)
      val (clean, quarantine) = graft.sources.CsvCorpus.read(
        s, s"$tmp/shards", schema,
        header = Some("doc_id,source,n_chars"))
      clean.agg(
          count(lit(1)).cast("long").as("n_docs"),
          coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"),
          coalesce(sum(col("doc_id") * col("n_chars")), lit(0L))
            .as("sum_id_chars"))
        .crossJoin(quarantine
          .agg(count(lit(1)).cast("long").as("n_corrupt")))
    },
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | CAST(sum(doc_id * n_chars) AS BIGINT) AS sum_id_chars,
        | CAST(1 AS BIGINT) AS n_corrupt
        |FROM documents""".stripMargin),

    // binary-blob ingestion (sources/MediaFiles over the built-in
    // binaryFile source): one file per asset written as <doc_id>.bin,
    // a .tmp sidecar excluded by the pushed-down glob, a bad-name .bin
    // and an oversized .bin quarantined with reasons — payload
    // checksums prove the round trip against the parquet original
    Entry("source_binary_files", (s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_blobs").toString
      val it = Tables.documents(s, dir).select("doc_id", "text")
        .toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$tmp/${r.getLong(0)}.bin"),
          r.getString(1).getBytes("UTF-8"))
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$tmp/manifest.tmp"), "junk")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$tmp/not-an-id.bin"), "junk")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$tmp/999999999.bin"),
        Array.fill(3000000)('x'.toByte))
      val (clean, quarantine) = graft.sources.MediaFiles.read(
        s, tmp, glob = "*.bin", maxBytes = 2000000L)
      clean
        .agg(count(lit(1)).cast("long").as("n_files"),
          sum(col("byte_len")).as("sum_bytes"),
          sum(col("media_id") * length(col("payload")).cast("long"))
            .as("sum_id_bytes"))
        .crossJoin(broadcast(quarantine
          .agg(count(lit(1)).cast("long").as("n_quarantined"),
            coalesce(sum(when(col("reason") === "oversized", 1L)
              .otherwise(0L)), lit(0L)).as("n_oversized"))))
    },
      """SELECT CAST(count(*) AS BIGINT) AS n_files,
        | CAST(sum(length(text)) AS BIGINT) AS sum_bytes,
        | CAST(sum(doc_id * length(text)) AS BIGINT) AS sum_id_bytes,
        | CAST(2 AS BIGINT) AS n_quarantined,
        | CAST(1 AS BIGINT) AS n_oversized
        |FROM documents""".stripMargin),

    // fixed-width ingestion (sources/FixedWidthCorpus): render the
    // documents metadata as 28-char records, add a truncated line and
    // a right-length line with letters in the numeric id field, read
    // back through the substring/trim layout — clean checksums match
    // the parquet original, both planted offenders land in quarantine
    Entry("source_fixed_width", (s, dir) => {
      import graft.sources.FixedWidthCorpus
      val tmp = java.nio.file.Files.createTempDirectory("graft_fw").toString
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val layout = Seq(
        FixedWidthCorpus.Field("doc_id", 1, 10, numeric = true),
        FixedWidthCorpus.Field("source", 11, 8, numeric = false),
        FixedWidthCorpus.Field("n_chars", 19, 10, numeric = true))
      FixedWidthCorpus.render(docs, layout)
        .write.mode("overwrite").text(s"$tmp/shards")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$tmp/shards/zz_corrupt.txt"),
        "too short\n00000000xxsrcX    0000000042\n")
      val (clean, quarantine) = FixedWidthCorpus.read(
        s, s"$tmp/shards", layout)
      clean.agg(
          count(lit(1)).cast("long").as("n_docs"),
          coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"),
          coalesce(sum(col("doc_id") * col("n_chars")), lit(0L))
            .as("sum_id_chars"))
        .crossJoin(quarantine
          .agg(count(lit(1)).cast("long").as("n_corrupt")))
    },
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | CAST(sum(doc_id * n_chars) AS BIGINT) AS sum_id_chars,
        | CAST(2 AS BIGINT) AS n_corrupt
        |FROM documents""".stripMargin),

    // schema evolution (sources/PartitionedTables.readEvolved): an old
    // shard (doc_id, n_chars) and a new shard that ADDED lang merge
    // under mergeSchema — the old shard's missing column reads as NULL,
    // and the per-column presence counts prove exactly which rows
    // carry it while the value checksums survive the merge
    Entry("source_schema_evolve", (s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_evolve").toString
      val docs = Tables.documents(s, dir)
      docs.where(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$tmp/v1")
      docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .write.mode("overwrite").parquet(s"$tmp/v2")
      graft.sources.PartitionedTables
        .readEvolved(s, s"$tmp/v1", s"$tmp/v2")
        .agg(count(lit(1)).as("n_rows"),
          count(col("n_chars")).as("n_chars_present"),
          count(col("lang")).as("n_lang_present"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("lang")).as("n_langs"))
    },
      // the evolved-shard merge is reconstructed by CASE on the shard
      // assignment rule (even docs went to the lang-less v1 shard)
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(n_chars) AS BIGINT) AS n_chars_present,
        | CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_lang_present,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | CAST(count(DISTINCT CASE WHEN doc_id % 2 = 1 THEN lang END)
        |   AS BIGINT) AS n_langs
        |FROM documents""".stripMargin),

    // ORC round trip (sources/OrcTables): write documents hive-
    // partitioned by source as ORC, read back through partition pruning
    // (3 of 20 directories opened) + stripe-stat pushdown, and prove
    // the per-source checksums against the parquet original — the
    // second columnar interchange format beside parquet
    Entry("source_orc", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_orc").toString
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.OrcTables.writePartitioned(docs, s"$tmp/docs", "source")
      graft.sources.OrcTables.read(s, s"$tmp/docs")
        .where(col("source").isin("src1", "src2", "src3"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("doc_id") * col("n_chars")).as("sum_id_chars"))
        .orderBy("source")
    },
      // the ORC round trip preserves every value, so the checksums come
      // straight off the parquet original
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | CAST(sum(doc_id * n_chars) AS BIGINT) AS sum_id_chars
        |FROM documents WHERE source IN ('src1', 'src2', 'src3')
        |GROUP BY source ORDER BY source""".stripMargin),

    // WARC ingestion: render every document as a WARC response record,
    // write real text shards, re-ingest through the multi-byte-lineSep
    // splitter, and prove the round trip — record count, zero
    // type/payload mismatches against the source table (full join, so
    // missing OR phantom records surface), exact payload mass, empty
    // quarantine
    Entry("source_warc", (s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_warc_gate").toString
      val docs = Tables.documents(s, dir)
      docs.select(graft.sources.WarcCorpus.render(
          concat(lit("https://corpus.test/doc-"), col("doc_id")),
          concat(lit("urn:graft:"), col("doc_id")), col("text"))
          .as("value"))
        .write.mode("overwrite").text(s"$tmp/warc")
      val (recs, quarantine) = graft.sources.WarcCorpus.read(s, s"$tmp/warc")
      recs
        .select(regexp_extract(col("target_uri"), "doc-([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          col("warc_type"), col("payload"))
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"), "full")
        .agg(count(lit(1)).cast("long").as("n_records"),
          coalesce(sum(when(col("warc_type").isNull
              || col("warc_type") =!= "response"
              || col("payload").isNull || col("text").isNull
              || col("payload") =!= col("text"), 1L).otherwise(0L)),
            lit(0L)).cast("long").as("n_mismatch"),
          coalesce(sum(length(col("payload"))), lit(0L)).cast("long")
            .as("sum_payload_chars"))
        .crossJoin(quarantine
          .agg(count(lit(1)).cast("long").as("n_quarantined")))
    },
      // the WARC round trip inverts the synthesis exactly, so every
      // aggregate derives from the source table
      """SELECT CAST(count(*) AS BIGINT) AS n_records,
        | CAST(0 AS BIGINT) AS n_mismatch,
        | CAST(sum(len(text)) AS BIGINT) AS sum_payload_chars,
        | CAST(0 AS BIGINT) AS n_quarantined
        |FROM documents""".stripMargin),

    // URL canonicalization over synthesized messy URLs (every rule
    // exercised by a doc_id residue class): normalized form + host +
    // registered domain per doc — the oracle replicates both the
    // synthesis and the regex pipeline step for step
    Entry("web_url_normalize", (s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("url", webMessyUrl)
      val u = Web.normalizeUrl(col("url"))
      docs.select(col("doc_id"), u.as("url_norm"), Web.host(u).as("host"),
          Web.registeredDomain(Web.host(u)).as("domain"))
        .orderBy("doc_id")
    },
      // replicates the messy-URL synthesis, then the normalization regex
      // pipeline step for step (DuckDB regexp_replace needs the explicit
      // 'g' flag on the tracking-param rule; every other rule is anchored
      // single-match)
      """WITH b AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://' ||
        |  (CASE WHEN doc_id % 5 = 0 THEN 'www.' WHEN doc_id % 5 = 2 THEN 'cdn.'
        |        WHEN doc_id % 5 = 3 THEN 'm.' ELSE '' END) || source ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '.com' WHEN doc_id % 4 = 1 THEN '.co.uk'
        |        WHEN doc_id % 4 = 2 THEN '.org' ELSE '.io' END) ||
        |  (CASE WHEN doc_id % 6 = 0 THEN ':443' WHEN doc_id % 6 = 3 THEN ':80'
        |        ELSE '' END) AS head,
        |  '/' || lang || '/doc-' || doc_id ||
        |  (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=' || doc_id
        |        WHEN doc_id % 3 = 1 THEN '?id=' || doc_id || '&utm_campaign=x&fbclid=abc'
        |        ELSE '' END) ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '#section-2' ELSE '' END) AS tail
        | FROM documents),
        |raw AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 7 = 0 THEN upper(head) ELSE head END) || tail AS url
        | FROM b),
        |n1 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS u FROM raw),
        |n2 AS (SELECT doc_id,
        |  lower(regexp_extract(u, '^([^:/?#]+://[^/?#]*)', 1)) ||
        |  regexp_replace(u, '^[^:/?#]+://[^/?#]*', '') AS u FROM n1),
        |n3 AS (SELECT doc_id, regexp_replace(regexp_replace(u,
        |  '^(http://[^/:?#]+):80([/?#]|$)', '\1\2'),
        |  '^(https://[^/:?#]+):443([/?#]|$)', '\1\2') AS u FROM n2),
        |n4 AS (SELECT doc_id, regexp_replace(u,
        |  '[?&](utm_[a-z0-9_]+|fbclid|gclid|msclkid)=[^&#]*', '', 'g') AS u
        | FROM n3),
        |n5 AS (SELECT doc_id, regexp_replace(regexp_replace(
        |  regexp_replace(u, '^([^?]*)&', '\1?'), '[?&]+$', ''),
        |  '^(https?://[^/?#]+)/$', '\1') AS u FROM n4),
        |h AS (SELECT doc_id, u,
        |  lower(regexp_extract(u, '^[^:/?#]+://([^/:?#]+)', 1)) AS host FROM n5),
        |hp AS (SELECT doc_id, u, host, string_split(host, '.') AS pa,
        |  len(string_split(host, '.')) AS np FROM h)
        |SELECT doc_id, u AS url_norm, host,
        | CASE WHEN np >= 3 AND (pa[np-1] || '.' || pa[np]) IN ('co.uk','org.uk',
        |   'ac.uk','gov.uk','com.au','net.au','org.au','co.jp','or.jp','ne.jp',
        |   'co.in','co.kr','com.br','com.cn','com.mx','com.tr','com.ar','co.za',
        |   'com.sg','co.nz')
        |  THEN pa[np-2] || '.' || pa[np-1] || '.' || pa[np]
        |  WHEN np >= 2 THEN pa[np-1] || '.' || pa[np]
        |  ELSE host END AS domain
        |FROM hp ORDER BY doc_id""".stripMargin),

    // per-registered-domain corpus accounting (docs, distinct hosts,
    // char mass) — subdomains collapse, two-level suffixes (.co.uk)
    // keep three labels
    Entry("web_host_stats", (s, dir) =>
      Web.hostStats(
          Tables.documents(s, dir).withColumn("url", webSimpleUrl),
          "url", Seq(sum(col("n_chars")).as("sum_chars")))
        .orderBy("domain"),
      // host/domain constructed directly from the synthesis parts (the
      // suffix rule keeps source.co.uk intact, strips subdomains
      // otherwise — so domain = source || tld for every class here)
      """WITH r AS (SELECT doc_id, source, n_chars,
        |  (CASE WHEN doc_id % 3 = 0 THEN 'www.' WHEN doc_id % 3 = 1 THEN 'm.'
        |        ELSE '' END) || source ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '.com' WHEN doc_id % 4 = 1 THEN '.co.uk'
        |        WHEN doc_id % 4 = 2 THEN '.org' ELSE '.io' END) AS host,
        |  source ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '.com' WHEN doc_id % 4 = 1 THEN '.co.uk'
        |        WHEN doc_id % 4 = 2 THEN '.org' ELSE '.io' END) AS domain
        | FROM documents)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),

    // domain blocklist as a broadcast anti-join (the blocklist is
    // domain-sized, never corpus-sized), surviving docs per source
    Entry("web_blocklist", (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir).withColumn("url", webSimpleUrl)
      val blocked = Seq("src0.io", "src3.com", "src7.co.uk", "src12.org")
        .toDF("domain")
      Web.blocklistFilter(docs, "url", blocked)
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    },
      """WITH r AS (SELECT source, doc_id, source ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '.com' WHEN doc_id % 4 = 1 THEN '.co.uk'
        |        WHEN doc_id % 4 = 2 THEN '.org' ELSE '.io' END) AS domain
        | FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_kept FROM r
        |WHERE domain NOT IN ('src0.io','src3.com','src7.co.uk','src12.org')
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // URL-level dedup: triples of docs whose raw URLs differ by scheme
    // case / www / default ports / tracking params / fragments collapse
    // to one canonical key; keep the minimum doc_id — the oracle
    // constructs the expected canonical key INDEPENDENTLY, so the gate
    // proves the whole normalize+key pipeline
    Entry("web_url_dedup", (s, dir) =>
      Web.dedupByUrl(
          Tables.documents(s, dir).withColumn("url", webGroupUrl), "url")
        .orderBy("keep_id"),
      // constructs the EXPECTED canonical key independently of the regex
      // pipeline — scheme, www, default ports, tracking params, and
      // fragments must all have been removed for the two sides to agree
      """WITH k AS (SELECT doc_id, doc_id // 3 AS g FROM documents),
        |r AS (SELECT doc_id,
        |  'site' || (g % 50) ||
        |  (CASE WHEN g % 4 = 0 THEN '.com' WHEN g % 4 = 1 THEN '.co.uk'
        |        WHEN g % 4 = 2 THEN '.org' ELSE '.io' END) ||
        |  '/p/' || g || '?v=' || (g % 7) AS url_key
        | FROM k)
        |SELECT url_key, CAST(min(doc_id) AS BIGINT) AS keep_id,
        | CAST(count(*) AS BIGINT) AS n_dups
        |FROM r GROUP BY 1 ORDER BY keep_id""".stripMargin),

    // HTML → text extraction over synthesized pages (every rule
    // exercised by a doc_id residue class: head/title with entities,
    // script content holding a bare '<', style, comments wrapping
    // tags, 0/1/2 links): title, visible text, outlinks, and the
    // integer text-density signal — the oracle replicates the page
    // synthesis AND the whole rule chain step for step
    Entry("web_html_extract", (s, dir) =>
      graft.pipeline.Html.extract(
          Tables.documents(s, dir).withColumn("html", webHtmlDoc), "html")
        .orderBy("doc_id"),
      """WITH b AS (SELECT doc_id,
        |  '<html><head><title>Doc ' || doc_id || ' &amp; source ' || source
        |   || '</title>' ||
        |  (CASE WHEN doc_id % 3 = 0 THEN '<style>p { margin: 0; }</style>'
        |        ELSE '' END) || '</head><body>' ||
        |  (CASE WHEN doc_id % 2 = 0 THEN
        |    '<script type="text/javascript">var x = 1 < 2;</script>'
        |        ELSE '' END) ||
        |  (CASE WHEN doc_id % 4 = 1 THEN '<!-- footer <b>boiler</b> -->'
        |        ELSE '' END) ||
        |  '<h1>Doc ' || doc_id || '</h1><p>' || text || '</p>' ||
        |  (CASE WHEN doc_id % 3 = 0 THEN
        |    '<a href="https://site' || (doc_id % 50) || '.com/p/' || doc_id
        |     || '">Link A</a> <a href="https://ref.org/' || doc_id || '">B</a>'
        |        WHEN doc_id % 3 = 1 THEN
        |    '<a href="/rel/' || doc_id || '">only</a>'
        |        ELSE '' END) || '</body></html>' AS html
        | FROM documents),
        |e1 AS (SELECT doc_id, html,
        |  regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g') AS t FROM b),
        |e2 AS (SELECT doc_id, html, regexp_replace(t,
        |  '(?is)<script\b[^>]*>.*?</script>', ' ', 'g') AS t FROM e1),
        |e3 AS (SELECT doc_id, html, regexp_replace(t,
        |  '(?is)<style\b[^>]*>.*?</style>', ' ', 'g') AS t FROM e2),
        |e4 AS (SELECT doc_id, html, regexp_replace(t,
        |  '(?is)<head\b[^>]*>.*?</head>', ' ', 'g') AS t FROM e3),
        |e5 AS (SELECT doc_id, html,
        |  regexp_replace(t, '(?s)<[^>]*>', ' ', 'g') AS t FROM e4),
        |e6 AS (SELECT doc_id, html, replace(replace(replace(replace(replace(
        |  replace(t, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |  '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t FROM e5),
        |e7 AS (SELECT doc_id, html,
        |  trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean_text FROM e6),
        |ti AS (SELECT doc_id, trim(regexp_replace(replace(replace(replace(
        |  replace(replace(replace(
        |    regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1),
        |  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |  '&nbsp;', ' '), '&amp;', '&'), '\s+', ' ', 'g')) AS title
        | FROM b),
        |lk AS (SELECT doc_id, regexp_extract_all(html,
        |  '(?is)<a\b[^>]*href\s*=\s*"([^"]*)"', 1) AS ls FROM b)
        |SELECT e7.doc_id, ti.title, e7.clean_text,
        | CAST(coalesce(len(lk.ls), 0) AS BIGINT) AS n_links,
        | coalesce(array_to_string(lk.ls, ' '), '') AS links,
        | CAST(floor(1000.0 * len(e7.clean_text) / len(e7.html)) AS BIGINT)
        |   AS density_milli
        |FROM e7 JOIN ti USING (doc_id) JOIN lk USING (doc_id)
        |ORDER BY e7.doc_id""".stripMargin),

    // anchor-text aggregation per target host over the synthesized
    // pages: every doc_id%3==0 page links "Link A" -> site{d%50}.com
    // and "B" -> ref.org, %3==1 pages carry only a RELATIVE href
    // (hostless — must drop); the oracle rebuilds the expectation from
    // the synthesis residues
    Entry("web_anchor_text", (s, dir) =>
      Web.anchorTexts(
          Tables.documents(s, dir).withColumn("url", webSimpleUrl)
            .withColumn("html", webHtmlDoc), "url", "html")
        .orderBy("dst", "anchor"),
      // replicates the page synthesis, then the Html rule chain step for
      // step (comments, script, style, head, tag strip, entity decode
      // with &amp; LAST, whitespace collapse; DuckDB regexp_replace needs
      // the explicit 'g' flag on every rule)
      """WITH src AS (SELECT doc_id,
        | 'www.' || source ||
        | (CASE doc_id % 4 WHEN 0 THEN '.com' WHEN 1 THEN '.co.uk'
        |   WHEN 2 THEN '.org' ELSE '.io' END) AS src_host
        | FROM documents WHERE doc_id % 3 = 0),
        |a AS (
        | SELECT src_host,
        |  'site' || CAST(doc_id % 50 AS VARCHAR) || '.com' AS dst,
        |  'Link A' AS anchor
        | FROM src
        | UNION ALL
        | SELECT src_host, 'ref.org' AS dst, 'B' AS anchor FROM src)
        |SELECT dst, anchor,
        | CAST(count(DISTINCT src_host) AS BIGINT) AS n_hosts,
        | CAST(count(*) AS BIGINT) AS n_links
        |FROM a GROUP BY dst, anchor ORDER BY dst, anchor""".stripMargin),

    // incremental anchor-text state: (dst, anchor, src)-keyed link
    // counts over PAGE-DISJOINT batches merge additively while the
    // DISTINCT-host count stays exact (the src key is what makes the
    // rollup mergeable) — gated: report from the merged state == the
    // one-shot report row for row, and the split is NON-vacuous in the
    // interesting way: some (dst, anchor, src) triple links from BOTH
    // batches (doc_id%8<4 puts doc_id≡0 and ≡4 (mod 8) pages — same
    // src-host tld class — on opposite sides), so a naive per-(dst,
    // anchor) host-count merge would have double-counted
    Entry("web_anchor_text_incr", (s, dir) => {
      val pages = Tables.documents(s, dir).withColumn("url", webSimpleUrl)
        .withColumn("html", webHtmlDoc)
      val pa = pages.where(pmod(col("doc_id"), lit(8)) < 4)
      val pb = pages.where(pmod(col("doc_id"), lit(8)) >= 4)
      val sa = Web.anchorTextState(pa, "url", "html")
      val sb = Web.anchorTextState(pb, "url", "html")
      val merged = Web.mergeAnchorState(sa, sb)
      val rep = Web.anchorTextsFromState(merged)
      val one = Web.anchorTexts(pages, "url", "html")
        .select(col("dst"), col("anchor"), col("n_hosts").as("h2"),
          col("n_links").as("l2"))
      val repDiff = rep.join(one, Seq("dst", "anchor"), "full_outer")
        .agg(coalesce(sum(when(col("n_hosts") <=> col("h2") &&
          col("n_links") <=> col("l2"), 0L).otherwise(1L)), lit(0L))
          .as("n_report_diff"))
      val nonvac = sa.select("dst", "anchor", "src")
        .join(sb.select("dst", "anchor", "src"), Seq("dst", "anchor", "src"))
        .agg(when(count(lit(1)) > 0, 1L).otherwise(0L)
          .as("merge_nonvacuous"))
      repDiff.crossJoin(nonvac)
    },
      """SELECT CAST(0 AS BIGINT) AS n_report_diff,
        | CAST(1 AS BIGINT) AS merge_nonvacuous""".stripMargin),

    // SKETCH anchor state ((dst, anchor)-sized regardless of host
    // fan-in — the src key the exact state carries becomes constant
    // HLL bytes): gated in-job against the exact report — link totals
    // equal exactly, the distinct-host ESTIMATES (one-shot AND the
    // two-batch union) stay within 5% of exact, deterministic
    Entry("web_anchor_text_sketch", (s, dir) => {
      val pages = Tables.documents(s, dir).withColumn("url", webSimpleUrl)
        .withColumn("html", webHtmlDoc)
      val pa = pages.where(pmod(col("doc_id"), lit(8)) < 4)
      val pb = pages.where(pmod(col("doc_id"), lit(8)) >= 4)
      val merged = Web.mergeAnchorSketches(
        Web.anchorTextSketchState(pa, "url", "html"),
        Web.anchorTextSketchState(pb, "url", "html"))
      val rep = Web.anchorTextsFromSketch(merged)
        .select(col("dst"), col("anchor"), col("n_hosts_est").as("hm"),
          col("n_links").as("lm"))
      val oneShot = Web.anchorTextsFromSketch(
        Web.anchorTextSketchState(pages, "url", "html"))
        .select(col("dst"), col("anchor"), col("n_hosts_est").as("h1"),
          col("n_links").as("l1"))
      val exact = Web.anchorTexts(pages, "url", "html")
        .select(col("dst"), col("anchor"), col("n_hosts").as("he"),
          col("n_links").as("le"))
      rep.join(oneShot, Seq("dst", "anchor")).join(exact, Seq("dst", "anchor"))
        .agg(when(count(lit(1)) > 0, 1L).otherwise(0L).as("has_pairs"),
          coalesce(sum(when(col("lm") === col("le") &&
            col("l1") === col("le"), 0L).otherwise(1L)), lit(0L))
            .as("n_total_diff"),
          coalesce(sum(when(abs(col("h1") - col("he")) * 20 <= col("he"),
            0L).otherwise(1L)), lit(0L)).as("n_oneshot_out_of_bound"),
          coalesce(sum(when(abs(col("hm") - col("he")) * 20 <= col("he"),
            0L).otherwise(1L)), lit(0L)).as("n_merged_out_of_bound"))
    },
      """SELECT CAST(1 AS BIGINT) AS has_pairs,
        | CAST(0 AS BIGINT) AS n_total_diff,
        | CAST(0 AS BIGINT) AS n_oneshot_out_of_bound,
        | CAST(0 AS BIGINT) AS n_merged_out_of_bound""".stripMargin),

    // host-centrality quality prior: page host → outlink host edges
    // (relative and self links dropped) from the synthesized pages,
    // ranked by 3 rounds of the integer PageRank over STRING node keys
    // — the oracle rebuilds the edge list from the synthesis residues
    // and chains the same fixed-point CTEs as graph_pagerank
    Entry("web_link_rank", (s, dir) => {
      val pages = Tables.documents(s, dir)
        .withColumn("url", webSimpleUrl).withColumn("html", webHtmlDoc)
      graft.operators.PageRank
        .rankKeyed(Web.hostLinkEdges(pages, "url", "html"), iters = 3)
        .select(col("v").as("host"), col("s"))
        .orderBy("host")
    },
      // edge list straight from the synthesis residues (only d%3=0 pages
      // carry absolute links, and their subdomain residue is 'www.'),
      // then the graph_pagerank fixed-point CTE chain on string keys
      """WITH p AS (SELECT doc_id, 'www.' || source ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '.com' WHEN doc_id % 4 = 1
        |   THEN '.co.uk' WHEN doc_id % 4 = 2 THEN '.org' ELSE '.io' END)
        |   AS src
        | FROM documents WHERE doc_id % 3 = 0),
        |e AS (SELECT DISTINCT src, 'site' || (doc_id % 50) || '.com' AS dst
        |   FROM p
        | UNION
        | SELECT DISTINCT src, 'ref.org' AS dst FROM p),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
        | FROM e GROUP BY src),
        |nodes AS (SELECT src AS v FROM e UNION SELECT dst AS v FROM e),
        |s0 AS (SELECT v, CAST(1000000000 AS BIGINT) AS s FROM nodes),
        |c1 AS (SELECT e.dst AS v, CAST(sum(s0.s // deg.d) AS BIGINT) AS c
        | FROM e JOIN deg USING (src) JOIN s0 ON s0.v = e.src
        | GROUP BY e.dst),
        |s1 AS (SELECT n.v, 150000000 + COALESCE(
        |  85 * (c.c // 100) + (85 * (c.c % 100)) // 100, 0) AS s
        | FROM nodes n LEFT JOIN c1 c ON n.v = c.v),
        |c2 AS (SELECT e.dst AS v, CAST(sum(s1.s // deg.d) AS BIGINT) AS c
        | FROM e JOIN deg USING (src) JOIN s1 ON s1.v = e.src
        | GROUP BY e.dst),
        |s2 AS (SELECT n.v, 150000000 + COALESCE(
        |  85 * (c.c // 100) + (85 * (c.c % 100)) // 100, 0) AS s
        | FROM nodes n LEFT JOIN c2 c ON n.v = c.v),
        |c3 AS (SELECT e.dst AS v, CAST(sum(s2.s // deg.d) AS BIGINT) AS c
        | FROM e JOIN deg USING (src) JOIN s2 ON s2.v = e.src
        | GROUP BY e.dst),
        |s3 AS (SELECT n.v, 150000000 + COALESCE(
        |  85 * (c.c // 100) + (85 * (c.c % 100)) // 100, 0) AS s
        | FROM nodes n LEFT JOIN c3 c ON n.v = c.v)
        |SELECT v AS host, CAST(s AS BIGINT) AS s FROM s3
        |ORDER BY host""".stripMargin),
  )
}

package graft.operators

import graft.catalog.QueryDef
import graft.mr.{MapReduce, MrApps, ReferenceCorpus}
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** The reference's MapReduce workload shapes (word count, inverted index —
  * /root/reference/src/mrapps/wc.go, indexer.go) expressed over the
  * driver's `documents` table so the DuckDB oracle can check them, plus
  * the generic holistic-MR engine itself as a rows-only entry.
  *
  * Scale notes: wordcount/inverted-index are explode→groupBy pipelines —
  * Catalyst plans partial aggregation before the shuffle, so shuffled
  * bytes are proportional to distinct words per partition, not total
  * tokens (unlike the reference, which ships every ("word","1") pair
  * across its shuffle files — SURVEY.md §4.2 "combiner: absent").
  */
object TextMrQueries {

  val defs: Seq[QueryDef] = Seq(

    // ---- word count (per-occurrence), the reference's flagship query ----
    QueryDef(
      "q21_wordcount",
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |WHERE word <> ''
        |GROUP BY word
        |ORDER BY word""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("word")
    }.copy(headline = true),

    // ---- inverted index: per-document-distinct words → sorted postings ----
    QueryDef(
      "q22_inverted_index",
      """SELECT word, count(*) AS n_docs,
        |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
        |      FROM documents) t
        |WHERE word <> ''
        |GROUP BY word
        |ORDER BY word""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .distinct()
        .groupBy("word")
        .agg(count(lit(1)).as("n_docs"),
             array_join(transform(sort_array(collect_set(col("doc_id"))),
               _.cast("string")), ",").as("postings"))
        .orderBy("word")
    },

    // ---- the generic (mapf, reducef) engine over the lab's own corpus ----
    // Holistic reduce path (groupByKey.mapGroups) running the wc app: the
    // oracle recomputes the same word count in DuckDB straight from the
    // Gutenberg text files (read_text + the Unicode-letter tokenizer the
    // reference uses — /root/reference/src/mrapps/wc.go:23-26). Values are
    // strings because the generic MR surface is (string,string) KV.
    // Byte-level golden parity vs the committed mymrout snapshot is
    // additionally asserted in GoldenParitySpec.
    QueryDef(
      "q23_generic_mapreduce",
      s"""SELECT word AS key, CAST(count(*) AS VARCHAR) AS value
         |FROM (SELECT unnest(list_filter(
         |        regexp_split_to_array(content, '[^\\p{L}]+'), w -> w <> '')) AS word
         |      FROM read_text('${ReferenceCorpus.PgGlob}'))
         |GROUP BY word
         |ORDER BY key""".stripMargin) { (s, _) =>
      import s.implicits._
      MapReduce.run(s, ReferenceCorpus.require(ReferenceCorpus.PgGlob),
          MrApps.wcMap, MrApps.wcReduce)
        .toDF("key", "value")
        .orderBy("key")
    },

    // ---- the kvtext DataSource V2 on the oracle surface (q163): read
    //      the reference's committed golden output through the custom
    //      connector (TableProvider → pruned scan → last-space parse)
    //      and rank the top words — the oracle re-parses the same file
    //      with DuckDB's CSV reader, so the connector's parse, typing,
    //      and file resolution are value-checked, not just
    //      spec-checked. ----
    QueryDef(
      "q163_kvtext_source",
      s"""SELECT key, cnt FROM (
        |  SELECT column0 AS key, CAST(column1 AS BIGINT) AS cnt
        |  FROM read_csv('${ReferenceCorpus.GoldenWc}', delim = ' ',
        |    header = false, quote = '',
        |    columns = {'column0': 'VARCHAR', 'column1': 'VARCHAR'})) t
        |ORDER BY cnt DESC, key
        |LIMIT 20""".stripMargin) { (s, _) =>
      s.read.format("kvtext").load(ReferenceCorpus.require(ReferenceCorpus.GoldenWc))
        .select(col("key"), col("value").cast("long").as("cnt"))
        .orderBy(col("cnt").desc, col("key"))
        .limit(20)
    }
  )
}

"""All engine StructTypes.

The frontier/seen/hosts/lineage tables are the Spark re-expression of the
reference's MySQL work tables (SURVEY.md §1.1):

- frontier  <- integer ID ranges + invalid/retry tables
  (reference: flask_spider/spider/shixin_spider/shixin_spider.py:253-274
   generates ordered ID groups; .../necessary/shixin_python_sql.py:19-38
   is the destructive retry dequeue; t_shixin.sql:39-50 err_type/flag).
- seen      <- unique keys on valid+invalid tables
  (t_shixin.sql:32,48; dup-key insert skip db_config.py:46-54).
- hosts     <- per-source hand-tuned politeness constants
  (thread counts / sleeps, e.g. zhixing_spider.py:264, phone_book.py:214).
- documents <- interleaved text+media bodies (input_hint shape):
  (doc_id, spans:array<struct<kind,text,media_ref,offset>>).
- lineage   <- checkpoint JSON files + clawed_log audit lines
  (shixin_spider.py:299-312, share_func.py:260-273).

``next_fetch_time`` and round stamps are integer round ticks (one crawl
round == one tick) rather than wall-clock timestamps: the reference's
politeness is sleep-between-batches, which maps to "eligible again k
rounds later"; integer ticks keep every test and the refsim oracle
fully deterministic.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ----------------------------------------------------------------- spans
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType()),       # title | text | link | media
        T.StructField("text", T.StringType()),       # '' for media spans
        T.StructField("media_ref", T.StringType()),  # '' for text kinds
        T.StructField("offset", T.IntegerType()),    # strictly increasing per doc
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN)),
        T.StructField("url", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("fetch_round", T.LongType()),
    ]
)

# --------------------------------------------------------------- frontier
# state machine (T4, SURVEY.md §2.8): pending -> fetched | retry | dead
# retry -> fetched | retry | dead ; dead is terminal (prevents the
# reference's logged read-DB->request->write-DB livelock).
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("priority", T.IntegerType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("state", T.StringType()),
        T.StructField("retry_count", T.IntegerType()),
        T.StructField("next_fetch_time", T.LongType()),   # round tick
        T.StructField("discovered_round", T.LongType()),
    ]
)

# seen is BUCKETED: partitioned by pmod(url_hash, cfg.seen_buckets) so
# compaction rewrites one bucket at a time (VERDICT r2 #4).  The round's
# exact anti-join reads the url_hash column of all buckets in one scan
# (storage.read with a projection that leaves seen_bucket out).
SEEN = T.StructType(
    [
        T.StructField("url_hash", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("seen_bucket", T.IntegerType()),
    ]
)

HOSTS = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("crawl_delay", T.IntegerType()),      # rounds between fetch batches
        T.StructField("max_concurrent", T.IntegerType()),   # per-round per-host cap
        T.StructField("disallow_prefixes", T.ArrayType(T.StringType())),
    ]
)

HOST_STATE = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("last_fetch_round", T.LongType()),
        T.StructField("quarantined", T.BooleanType()),
    ]
)

# ------------------------------------------------------------ fetch output
# status/err_type taxonomy mirrors the reference envelope
# (share_func.py:291-304 status codes; shixin_spider.py:140-153 +
# t_shixin.sql:45-46: err_type 1=request failed, 2=timeout, 3=unknown).
FETCH_RESULT = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("priority", T.IntegerType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("retry_count", T.IntegerType()),
        T.StructField("discovered_round", T.LongType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("err_type", T.IntegerType()),  # 0 ok, 1 request, 2 timeout, 3 unknown
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN)),
    ]
)

LINEAGE = T.StructType(
    [
        T.StructField("round_id", T.LongType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("dequeued", T.LongType()),
        T.StructField("fetched_ok", T.LongType()),
        T.StructField("errors", T.LongType()),
        T.StructField("new_urls", T.LongType()),
        T.StructField("dup_urls", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
    ]
)

SEED = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("priority", T.IntegerType()),
    ]
)

"""Spark schemas for the engine's tables.

  * ``PAGES_SCHEMA``    — the input corpus, exactly the BASELINE.json
    input_hint shape: (url, warc_ts, html:binary, text, lang);
  * ``FRONTIER_SCHEMA`` — the crawl frontier (≙ the reference's job table,
    scripts/migrations/0001_create_tables.up.sql + scrapemate.Job fields,
    gmaps/job.go:65-73);
  * ``SEEN_SCHEMA``     — the URL-seen set (≙ deduper/hashmap.go:11-42);
  * ``RESULT_SCHEMA``   — extracted entries: frequently-queried scalars as
    typed columns + the full Entry as canonical JSON (≙ the reference's
    JSONB ``data`` column, scripts/migrations/0003_results_jsonb.up.sql) so
    deep nesting never hits Arrow MapType limits and scans stay narrow.

Job kinds and priorities mirror the reference: search (GmapJob, priority
LOW=3, gmaps/job.go:56-59), place (PlaceJob, MEDIUM=2, gmaps/place.go:28-31),
email (EmailExtractJob, HIGH=1, gmaps/emailjob.go:27-30); the frontier drains
``ORDER BY priority ASC, created_at ASC`` (postgres/provider.go:159).
"""

from __future__ import annotations

from pyspark.sql import types as T

__all__ = [
    "PAGES_SCHEMA",
    "FRONTIER_SCHEMA",
    "SEEN_SCHEMA",
    "RESULT_SCHEMA",
    "ENTRY_STRUCT",
    "REVIEW_STRUCT",
    "PENDING_ENTRY_SCHEMA",
    "EMAIL_FINALIZE_SCHEMA",
    "DISPATCH_SCHEMA",
    "ENTRY_EXTRACT_SCHEMA",
    "PRIORITY_HIGH",
    "PRIORITY_MEDIUM",
    "PRIORITY_LOW",
    "KIND_SEARCH",
    "KIND_PLACE",
    "KIND_EMAIL",
    "KIND_REVIEWS",
    "STATUS_NEW",
    "STATUS_QUEUED",
    "STATUS_DONE",
    "STATUS_FAILED",
]

PRIORITY_HIGH = 1   # email jobs, gmaps/emailjob.go:28
PRIORITY_MEDIUM = 2  # place jobs, gmaps/place.go:29
PRIORITY_LOW = 3    # search (SERP) jobs, gmaps/job.go:58

KIND_SEARCH = "search"
KIND_PLACE = "place"
KIND_EMAIL = "email"
# Engine-new kind: the reference fetches review-RPC pages inside PlaceJob's
# browser loop (gmaps/reviews.go:46-97); with stored pages the chain becomes
# frontier jobs, one per RPC page, the accumulated reviews riding in payload.
KIND_REVIEWS = "reviews"

STATUS_NEW = "new"
STATUS_QUEUED = "queued"
STATUS_DONE = "done"
STATUS_FAILED = "failed"

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

FRONTIER_SCHEMA = T.StructType([
    T.StructField("job_id", T.StringType(), False),
    T.StructField("parent_id", T.StringType(), True),
    T.StructField("seed_id", T.StringType(), True),      # propagates to Entry.input_id
    T.StructField("kind", T.StringType(), False),
    T.StructField("url", T.StringType(), False),
    T.StructField("url_hash", T.LongType(), False),
    T.StructField("host", T.StringType(), True),          # eTLD+1
    T.StructField("politeness_bucket", T.IntegerType(), True),
    T.StructField("priority", T.IntegerType(), False),
    # FIFO tie-break (≙ created_at): hierarchical zero-padded path, e.g.
    # "000000001.000003" = 4th link of the 2nd seed.  Lexicographic order on
    # this string equals the sequential enqueue order, and children can be
    # stamped fully distributed (parent path + position) — no global
    # row_number shuffle per round.
    T.StructField("created_path", T.StringType(), False),
    T.StructField("depth", T.IntegerType(), False),
    T.StructField("max_depth", T.IntegerType(), False),
    T.StructField("retries", T.IntegerType(), False),
    T.StructField("max_retries", T.IntegerType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("round_claimed", T.IntegerType(), True),
    T.StructField("extract_email", T.BooleanType(), False),
    T.StructField("lang", T.StringType(), True),
    # Job payload: email jobs carry their parked entry (internal-dict JSON),
    # exactly as the reference's EmailExtractJob embeds *Entry
    # (gmaps/emailjob.go:32-41) — no side table, no extra join.
    T.StructField("payload", T.StringType(), True),
])

# Entry payload parked between the place hop and the email hop (the reference
# suppresses the place result and re-emits it from the email job:
# gmaps/place.go:124-138 UsageInResults=false).  Keyed by the place job id.
PENDING_ENTRY_SCHEMA = T.StructType([
    T.StructField("job_id", T.StringType(), False),
    T.StructField("entry_json", T.StringType(), False),   # internal dict repr
])

SEEN_SCHEMA = T.StructType([
    T.StructField("url_hash", T.LongType(), False),
    T.StructField("url", T.StringType(), False),
    T.StructField("admitting_parent", T.StringType(), True),
    T.StructField("round_admitted", T.IntegerType(), False),
])

# Fully-typed Entry struct (SURVEY §1.2's preferred shape): field names are
# exactly the canonical-JSON keys (Go MarshalJSON tags, entry.go:90-134 —
# including the dual longitude/longtitude quirk), so the struct is produced
# JVM-side with from_json(canonical_json, ENTRY_STRUCT) — no Python stage,
# and the Arrow nested-MapType limitation never applies (it only constrains
# pandas-UDF RETURN types, not JVM JSON parsing).  PopularTimes keeps Go's
# map[string]map[int]int shape as map<string, map<string,int>> (JSON object
# keys are strings).
_LINK_SOURCE_STRUCT = T.StructType([
    T.StructField("link", T.StringType(), True),
    T.StructField("source", T.StringType(), True),
])

REVIEW_STRUCT = T.StructType([
    T.StructField("Name", T.StringType(), True),
    T.StructField("ProfilePicture", T.StringType(), True),
    T.StructField("Rating", T.LongType(), True),
    T.StructField("Description", T.StringType(), True),
    T.StructField("Images", T.ArrayType(T.StringType()), True),
    T.StructField("When", T.StringType(), True),
    T.StructField("review_id", T.StringType(), True),
    T.StructField("source", T.StringType(), True),
    T.StructField("rating_scale", T.LongType(), True),
    T.StructField("rating_float", T.DoubleType(), True),
    T.StructField("author_url", T.StringType(), True),
    T.StructField("posted_at_unix_micros", T.LongType(), True),
    T.StructField("updated_at_unix_micros", T.LongType(), True),
    T.StructField("language", T.StringType(), True),
    T.StructField("translated_lang", T.StringType(), True),
    T.StructField("text_original", T.StringType(), True),
    T.StructField("text_translated", T.StringType(), True),
    T.StructField("reply_text", T.StringType(), True),          # omitempty
    T.StructField("reply_text_original", T.StringType(), True),
    T.StructField("reply_language", T.StringType(), True),
    T.StructField("reply_translated_lang", T.StringType(), True),
    T.StructField("reply_posted_at_unix_micros", T.LongType(), True),
    T.StructField("reply_updated_at_unix_micros", T.LongType(), True),
    T.StructField("published_at", T.StringType(), True),        # RFC3339Nano
])

ENTRY_STRUCT = T.StructType([
    T.StructField("longitude", T.DoubleType(), True),
    T.StructField("input_id", T.StringType(), True),
    T.StructField("link", T.StringType(), True),
    T.StructField("cid", T.StringType(), True),
    T.StructField("title", T.StringType(), True),
    T.StructField("categories", T.ArrayType(T.StringType()), True),
    T.StructField("category", T.StringType(), True),
    T.StructField("address", T.StringType(), True),
    T.StructField("open_hours", T.MapType(T.StringType(), T.ArrayType(T.StringType())), True),
    T.StructField("popular_times", T.MapType(T.StringType(), T.MapType(T.StringType(), T.IntegerType())), True),
    T.StructField("web_site", T.StringType(), True),
    T.StructField("phone", T.StringType(), True),
    T.StructField("plus_code", T.StringType(), True),
    T.StructField("review_count", T.IntegerType(), True),
    T.StructField("review_rating", T.DoubleType(), True),
    T.StructField("reviews_per_rating", T.MapType(T.StringType(), T.IntegerType()), True),
    T.StructField("latitude", T.DoubleType(), True),
    T.StructField("longtitude", T.DoubleType(), True),   # reference misspelling wins on read
    T.StructField("status", T.StringType(), True),
    T.StructField("description", T.StringType(), True),
    T.StructField("reviews_link", T.StringType(), True),
    T.StructField("thumbnail", T.StringType(), True),
    T.StructField("timezone", T.StringType(), True),
    T.StructField("price_range", T.StringType(), True),
    T.StructField("data_id", T.StringType(), True),
    T.StructField("street_view_url", T.StringType(), True),
    T.StructField("place_id", T.StringType(), True),
    T.StructField("images", T.ArrayType(T.StructType([
        T.StructField("title", T.StringType(), True),
        T.StructField("image", T.StringType(), True),
    ])), True),
    T.StructField("reservations", T.ArrayType(_LINK_SOURCE_STRUCT), True),
    T.StructField("order_online", T.ArrayType(_LINK_SOURCE_STRUCT), True),
    T.StructField("menu", _LINK_SOURCE_STRUCT, True),
    T.StructField("owner", T.StructType([
        T.StructField("id", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("link", T.StringType(), True),
    ]), True),
    T.StructField("complete_address", T.StructType([
        T.StructField("borough", T.StringType(), True),
        T.StructField("street", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("postal_code", T.StringType(), True),
        T.StructField("state", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
    ]), True),
    T.StructField("credit_cards_accepted", T.ArrayType(T.StringType()), True),
    T.StructField("about", T.ArrayType(T.StructType([
        T.StructField("id", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("options", T.ArrayType(T.StructType([
            T.StructField("name", T.StringType(), True),
            T.StructField("enabled", T.BooleanType(), True),
            T.StructField("values", T.ArrayType(T.StringType()), True),  # omitempty
        ])), True),
    ])), True),
    T.StructField("user_reviews", T.ArrayType(REVIEW_STRUCT), True),
    T.StructField("user_reviews_extended", T.ArrayType(REVIEW_STRUCT), True),
    T.StructField("emails", T.ArrayType(T.StringType()), True),
])

# Typed scalar projection + full typed Entry struct + canonical JSON payload.
RESULT_SCHEMA = T.StructType([
    T.StructField("job_id", T.StringType(), False),
    T.StructField("input_id", T.StringType(), True),
    T.StructField("url", T.StringType(), True),
    T.StructField("link", T.StringType(), True),
    T.StructField("cid", T.StringType(), True),
    T.StructField("title", T.StringType(), True),
    T.StructField("category", T.StringType(), True),
    T.StructField("categories", T.ArrayType(T.StringType()), True),
    T.StructField("address", T.StringType(), True),
    T.StructField("web_site", T.StringType(), True),
    T.StructField("phone", T.StringType(), True),
    T.StructField("plus_code", T.StringType(), True),
    T.StructField("review_count", T.IntegerType(), True),
    T.StructField("review_rating", T.DoubleType(), True),
    T.StructField("latitude", T.DoubleType(), True),
    T.StructField("longitude", T.DoubleType(), True),
    T.StructField("status", T.StringType(), True),
    T.StructField("place_id", T.StringType(), True),
    T.StructField("data_id", T.StringType(), True),
    T.StructField("emails", T.ArrayType(T.StringType()), True),
    T.StructField("canonical_json", T.StringType(), True),
    T.StructField("round_emitted", T.IntegerType(), True),
])
# NB the fully-typed `entry` struct column (ENTRY_STRUCT) is a DERIVED
# projection: CrawlEngine.results adds it lazily with
# from_json(canonical_json, ENTRY_STRUCT).  Storing it would re-serialize
# every nested field into the checkpoint parquet (measured: double the
# results write volume + 1 JSON parse per row per durable checkpoint) for
# data the canonical_json column already carries losslessly; deriving it at
# read time costs nothing when untouched (Catalyst prunes the parse) and one
# JVM json parse per row only for queries that actually read nested fields.

# UDF return schemas -----------------------------------------------------------

# place-entry extraction output (the dispatch UDF's ``entry`` field):
# scalars + canonical JSON + error channel.
ENTRY_EXTRACT_SCHEMA = T.StructType([
    T.StructField("input_id", T.StringType(), True),
    T.StructField("link", T.StringType(), True),
    T.StructField("cid", T.StringType(), True),
    T.StructField("title", T.StringType(), True),
    T.StructField("category", T.StringType(), True),
    T.StructField("categories", T.ArrayType(T.StringType()), True),
    T.StructField("address", T.StringType(), True),
    T.StructField("web_site", T.StringType(), True),
    T.StructField("phone", T.StringType(), True),
    T.StructField("plus_code", T.StringType(), True),
    T.StructField("review_count", T.IntegerType(), True),
    T.StructField("review_rating", T.DoubleType(), True),
    T.StructField("latitude", T.DoubleType(), True),
    T.StructField("longitude", T.DoubleType(), True),
    T.StructField("status", T.StringType(), True),
    T.StructField("place_id", T.StringType(), True),
    T.StructField("data_id", T.StringType(), True),
    T.StructField("canonical_json", T.StringType(), True),
    T.StructField("entry_json", T.StringType(), True),    # internal repr for the email hop
    T.StructField("valid", T.BooleanType(), True),
    T.StructField("email_eligible", T.BooleanType(), True),
    T.StructField("email_url", T.StringType(), True),     # normalized website URL (emailjob.go:37,153-176)
    T.StructField("error", T.StringType(), True),
])

# email-hop finalization: merged emails + re-serialized canonical JSON
EMAIL_FINALIZE_SCHEMA = T.StructType([
    # full result row (typed scalars come back from the UDF so the plan needs
    # no per-column JSON re-parsing of entry_json)
    T.StructField("input_id", T.StringType(), True),
    T.StructField("link", T.StringType(), True),
    T.StructField("cid", T.StringType(), True),
    T.StructField("title", T.StringType(), True),
    T.StructField("category", T.StringType(), True),
    T.StructField("categories", T.ArrayType(T.StringType()), True),
    T.StructField("address", T.StringType(), True),
    T.StructField("web_site", T.StringType(), True),
    T.StructField("phone", T.StringType(), True),
    T.StructField("plus_code", T.StringType(), True),
    T.StructField("review_count", T.IntegerType(), True),
    T.StructField("review_rating", T.DoubleType(), True),
    T.StructField("latitude", T.DoubleType(), True),
    T.StructField("longitude", T.DoubleType(), True),
    T.StructField("status", T.StringType(), True),
    T.StructField("place_id", T.StringType(), True),
    T.StructField("data_id", T.StringType(), True),
    T.StructField("emails", T.ArrayType(T.StringType()), True),
    T.StructField("canonical_json", T.StringType(), True),
    T.StructField("valid", T.BooleanType(), True),
])

# Single-pass dispatch UDF output: exactly one of links/entry/email is
# populated per row depending on the job kind, plus the job's terminal
# status.  One Python stage per round processes every fetched page once, and
# the html column dies inside that stage (never checkpointed or shuffled).
DISPATCH_SCHEMA = T.StructType([
    T.StructField("links", T.ArrayType(T.StringType()), True),   # search
    T.StructField("direct", T.BooleanType(), True),              # search: direct /maps/place/ URL
    T.StructField("entry", ENTRY_EXTRACT_SCHEMA, True),          # place / final reviews page
    T.StructField("email", EMAIL_FINALIZE_SCHEMA, True),         # email
    # reviews chain continuation: next RPC page URL + accumulated state
    T.StructField("reviews_next", T.StructType([
        T.StructField("url", T.StringType(), True),
        T.StructField("payload", T.StringType(), True),
    ]), True),
    T.StructField("new_status", T.StringType(), False),
])

"""Vectorized Arrow/pandas UDFs wrapping the pure-Python parse core.

Row-level work in the engine funnels through three UDFs (the input_hint
mandates pandas/Arrow vectorization, no per-row Python UDFs):

  * ``dispatch_udf``       — one pass over every fetched page, by job kind:
    SERP feed links (≙ GmapJob.Process, gmaps/job.go:145-177), place entry
    extraction + error channel (≙ PlaceJob.Process → EntryFromJSON,
    gmaps/place.go:72-144, gmaps/entry.go:360-542; the Go panic-recover
    wrapper at entry.go:361-367 corresponds to the try/except here), a
    review-RPC chain step (gmaps/reviews.go:70-97) and the email hop's
    finalize (gmaps/emailjob.go:64-98);
  * ``harvest_emails_udf`` — website HTML → ordered deduped emails, run
    inside the pages scan (≙ EmailExtractJob.Process's ExtractEmails);
  * ``reviews_pages_udf``  — array of review-RPC page bodies → extended
    reviews JSON (≙ Entry.AddExtraReviews, gmaps/entry.go:317-328).

``etld1_col`` is the JVM-side (no Python) eTLD+1 for politeness buckets.

Each UDF is a pure function of its inputs (the pinned ``now`` for review
timestamp bounds arrives as a literal column), so results are reproducible
across retries/speculative execution — a correctness requirement for
exactly-once semantics at scale.
"""

from __future__ import annotations

import json
from typing import Any

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql import types as T

from ..extract.canonical import entry_to_canonical_json, review_to_gostruct
from ..extract.emails import extract_emails
from ..extract.entry import (
    entry_from_json,
    extract_reviews_page,
    is_website_valid_for_email,
    validate_entry,
)
from ..extract.gojson import go_json_dumps
from ..extract.place_page import extract_app_init_blob
from ..extract.serp import extract_feed_links
from ..schemas import DISPATCH_SCHEMA, EMAIL_FINALIZE_SCHEMA, ENTRY_EXTRACT_SCHEMA

__all__ = [
    "dispatch_udf",
    "harvest_emails_udf",
    "reviews_pages_udf",
    "etld1_col",
]


def _to_text(v: Any) -> str:
    if v is None:
        return ""
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).decode("utf-8", "replace")
    return str(v)


def _extract_one_entry_pair(
    html: Any, seed_id: str, url: str, now_micros: int
) -> tuple[dict, dict | None]:
    """Returns (ENTRY_EXTRACT fields, internal entry dict | None on error)."""
    out: dict[str, Any] = {k.name: None for k in ENTRY_EXTRACT_SCHEMA.fields}
    out["valid"] = False
    out["email_eligible"] = False
    if html is None:
        out["error"] = "fetch error: page not in corpus"
        return out, None
    blob = extract_app_init_blob(_to_text(html))
    if blob is None:
        # Stored payload may already be the raw blob (RPC-style captures).
        text = _to_text(html).strip()
        if text.startswith(")]}'"):
            blob = text[4:].strip()
        elif text.startswith("["):
            blob = text
        else:
            out["error"] = "APP_INITIALIZATION_STATE data not found"
            return out, None
    try:
        e = entry_from_json(blob, now_micros=now_micros)
    except Exception as exc:  # ≙ EntryFromJSON error/panic-recover path
        out["error"] = str(exc)
        return out, None

    e["input_id"] = seed_id or ""            # ≙ entry.ID = j.ParentID (place.go:105)
    if not e["link"]:
        e["link"] = url                       # ≙ place.go:107-109

    out.update(_entry_fields(e))
    return out, e


def _entry_fields(e: dict) -> dict:
    """ENTRY_EXTRACT_SCHEMA fields from an internal entry dict."""
    eligible = is_website_valid_for_email(e["web_site"])
    return {
        "input_id": e["input_id"],
        "link": e["link"],
        "cid": e["cid"],
        "title": e["title"],
        "category": e["category"],
        "categories": e["categories"],
        "address": e["address"],
        "web_site": e["web_site"],
        "phone": e["phone"],
        "plus_code": e["plus_code"],
        "review_count": e["review_count"],
        "review_rating": float(e["review_rating"]),
        "latitude": float(e["latitude"]),
        "longitude": float(e["longtitude"]),
        "status": e["status"],
        "place_id": e["place_id"],
        "data_id": e["data_id"],
        "canonical_json": entry_to_canonical_json(e),
        # the internal repr is only consumed by the email hop — omit it
        # otherwise (it is the widest field in the dispatch output)
        "entry_json": json.dumps(e) if eligible else None,
        "valid": validate_entry(e),
        "email_eligible": eligible,
        "email_url": _normalize_site(e["web_site"]) if eligible else None,
        "error": None,
    }


def _normalize_site(site: str) -> str:
    from ..extract.urls import normalize_google_url

    return normalize_google_url(site or "")


@pandas_udf(T.StringType())
def reviews_pages_udf(pages: pd.Series, now_micros: pd.Series) -> pd.Series:
    """Array of RPC page bodies → JSON array of extended reviews (Go-canonical
    serialization, appended to user_reviews_extended)."""

    def run(bodies, now) -> str:
        reviews = []
        for body in bodies or []:
            if body is None:
                continue
            reviews.extend(extract_reviews_page(_to_text(body), now_micros=int(now)))
        return go_json_dumps([review_to_gostruct(r) for r in reviews])

    return pd.Series([run(b, n) for b, n in zip(pages, now_micros)])


_EMAIL_FINALIZE_COLS = [f.name for f in EMAIL_FINALIZE_SCHEMA.fields]


def _finalize_one_email(ej: str | None, h: Any, pre: Any = None) -> dict:
    """Email hop (gmaps/emailjob.go:64-98): merge harvested emails into the
    parked entry, re-serialize canonically, and emit the full typed result
    row.  A fetch miss (null html) leaves the entry untouched — the job
    still emits it."""
    if ej is None:
        return {c: None for c in _EMAIL_FINALIZE_COLS} | {"valid": False}
    e = json.loads(ej)
    if h is not None:
        emails = extract_emails(_to_text(h))
        e["emails"] = emails if emails else None  # Go nil slice when none
    elif pre is not None:
        # scan-side harvest (harvest_emails_udf): the same extract_emails
        # already ran where the html lived; ``pre`` is its result, with None
        # still meaning "no fetched page" (entry left untouched, as above)
        emails = list(pre)
        e["emails"] = emails if emails else None
    return {
        "input_id": e["input_id"],
        "link": e["link"],
        "cid": e["cid"],
        "title": e["title"],
        "category": e["category"],
        "categories": e["categories"],
        "address": e["address"],
        "web_site": e["web_site"],
        "phone": e["phone"],
        "plus_code": e["plus_code"],
        "review_count": int(e["review_count"]),
        "review_rating": float(e["review_rating"]),
        "latitude": float(e["latitude"]),
        "longitude": float(e["longtitude"]),
        "status": e["status"],
        "place_id": e["place_id"],
        "data_id": e["data_id"],
        "emails": e.get("emails"),
        "canonical_json": entry_to_canonical_json(e),
        "valid": validate_entry(e),
    }


@pandas_udf(T.ArrayType(T.StringType()))
def harvest_emails_udf(html: pd.Series) -> pd.Series:
    """Scan-stage email harvest for the payload hop (the ExtractEmails step
    of gmaps/emailjob.go:89-98, moved to where the html lives): the multi-KB
    page body dies inside the pages scan and only the tiny email list
    travels back to the payload-side finalize — at frontier scale this
    removes the per-round GB-class shuffle of html against parked entries.
    None (no fetched page) stays None so the finalize keeps the fetch-miss
    semantics; a fetched page with no emails yields an empty list."""
    return pd.Series(
        [None if h is None else extract_emails(_to_text(h)) for h in html],
        dtype="object",
    )


_DISPATCH_COLS = [f.name for f in DISPATCH_SCHEMA.fields]

# Deterministic substitute for the reference's crypto-random RPC session id
# (gmaps/reviews.go:305-324) — semantically inert, must only be stable so
# stored RPC pages are addressable.
REVIEW_REQUEST_ID = "0" * 21
REVIEW_PAGE_SIZE = 20   # gmaps/reviews.go:52
REVIEW_PAGE_CAP = 50    # gmaps/reviews.go:148


def _reviews_start(e: dict, place_url: str) -> dict:
    """PlaceJob with ExtractExtraReviews && reviewCount > 0
    (gmaps/place.go:180-202): park the entry and chain to RPC page 1."""
    from ..extract.urls import build_review_rpc_url

    return {
        "url": build_review_rpc_url(
            place_url, "", REVIEW_PAGE_SIZE, REVIEW_REQUEST_ID
        ),
        "payload": json.dumps({
            "entry": e, "acc": [], "pages": 0, "place_url": place_url,
        }),
    }


def _reviews_step(pl: str, h: Any, now: int) -> dict:
    """One RPC page of the chain (gmaps/reviews.go:70-97): accumulate
    reviews, follow the next-page token (page cap 50), finalize the entry
    with UserReviewsExtended when the chain ends (gmaps/entry.go:317-328)."""
    from ..extract.urls import build_review_rpc_url, extract_next_page_token

    st = json.loads(pl)
    token = ""
    if h is not None:
        body = _to_text(h)
        st["acc"].extend(extract_reviews_page(body, now_micros=now))
        token = extract_next_page_token(body)
    st["pages"] += 1
    out: dict[str, Any] = {"reviews_next": None, "entry": None}
    if token and st["pages"] < REVIEW_PAGE_CAP:
        out["reviews_next"] = {
            "url": build_review_rpc_url(
                st["place_url"], token, REVIEW_PAGE_SIZE, REVIEW_REQUEST_ID
            ),
            "payload": json.dumps(st),
        }
    else:
        e = st["entry"]
        if st["acc"]:
            e["user_reviews_extended"] = st["acc"]
        out["entry"] = _entry_fields(e)
    return out


@pandas_udf(DISPATCH_SCHEMA)
def dispatch_udf(
    kind: pd.Series,
    html: pd.Series,
    payload: pd.Series,
    seed_id: pd.Series,
    url: pd.Series,
    now_micros: pd.Series,
    extra_reviews: pd.Series,
    emails_pre: pd.Series,
) -> pd.DataFrame:
    """Single-pass per-round processor: one Python stage handles every
    claimed job by kind (≙ scrapemate dispatching each IJob's Process).

      search → feed links (gmaps/job.go:145-177; direct /maps/place/ URLs
               yield themselves as the sole non-deduped child)
      place  → full entry extraction (gmaps/place.go:72-144)
      email  → finalize the payload entry with harvested emails
               (gmaps/emailjob.go:64-98)

    Exactly one of links/entry/email is set; new_status is the job's
    terminal status (fetch miss ⇒ search fails, place fails with the
    fetch-error message, email still emits — job.go:114-116,
    place.go:68-70, emailjob.go:100-102)."""
    rows = []
    for k, h, pl, s, u, n, xr, ep in zip(
        kind, html, payload, seed_id, url, now_micros, extra_reviews, emails_pre
    ):
        out = dict.fromkeys(_DISPATCH_COLS)
        if k == "search":
            if h is None:
                out["new_status"] = "failed"
            elif "/maps/place/" in (u or ""):
                out["links"], out["direct"] = [u], True
                out["new_status"] = "done"
            else:
                out["links"] = extract_feed_links(_to_text(h))
                out["direct"] = False
                out["new_status"] = "done"
        elif k == "place":
            e, internal = _extract_one_entry_pair(h, s, u, int(n))
            if (
                internal is not None and bool(xr)
                and (e["review_count"] or 0) > 0
            ):
                # park the entry; chain into the review-RPC pages instead of
                # emitting now (gmaps/place.go:180-202)
                out["reviews_next"] = _reviews_start(internal, u)
                out["new_status"] = "done"
            else:
                out["entry"] = e
                out["new_status"] = "done" if e["error"] is None else "failed"
        elif k == "reviews":
            out.update(_reviews_step(pl, h, int(n)))
            out["new_status"] = "done"
        else:  # email
            out["email"] = _finalize_one_email(pl, h, ep)
            out["new_status"] = "done"
        rows.append(out)
    return pd.DataFrame(rows, columns=_DISPATCH_COLS)


def etld1_col(url_col):
    """JVM-side eTLD+1 (same suffix table as ``extract.urls.etld1``) — keeps
    the per-round frontier stamping inside whole-stage codegen instead of a
    Python stage.  Non-URL inputs (no host) map to '' (frontier URLs are
    always absolute, so this never diverges from the Python version there)."""
    from ..extract.urls import _MULTI_PART_TLDS

    host = F.lower(F.coalesce(F.parse_url(url_col, F.lit("HOST")), F.lit("")))
    host = F.regexp_replace(host, r"\.$", "")
    parts = F.split(host, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1))
    last3 = F.concat_ws(
        ".", F.element_at(parts, -3), F.element_at(parts, -2), F.element_at(parts, -1)
    )
    multi = F.array(*[F.lit(t) for t in sorted(_MULTI_PART_TLDS)])
    return (
        F.when(host == "", F.lit(""))
        .when(n <= 2, host)
        .when(F.array_contains(multi, last2), last3)
        .otherwise(last2)
    )


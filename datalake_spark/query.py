"""QueryEngine — the reference's four query types as DataFrame builders.

Reference entry points (SURVEY.md §2/§3):
- time-interval query  api/datalake_api/querier.py:240-303   → by_time
- work-id query        api/datalake_api/querier.py:192-215   → by_work_id
- latest               api/datalake_api/querier.py:351-417   → latest
- point lookup by id   api/datalake_api/fetcher.py:70-91     → by_id

Everything is declarative DataFrame logic: Catalyst turns the interval
predicate into parquet row-group skipping plus (when the catalog is
partitioned by bucket_date) partition pruning; the reference's hand-written
bucket walk, cursor machine, and per-page dedup all disappear.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datalake_spark.metadata import DAY_MS, InvalidDatalakeMetadata, normalize_date
from datalake_spark.session import local_frame

# querier.py:36-44
DEFAULT_LOOKBACK_DAYS = 14
LATEST_MAX_LOOKFORWARD_MS = 24 * 60 * 60 * 1000
MAX_RESULTS = 100  # querier.py:28-33 (page size; we expose it as default limit)


class InvalidQuery(ValueError):
    """400-class validation error; ``code`` mirrors the reference's error
    contract (api/datalake_api/v0.py:153-177, pinned by
    api/tests/test_bad_queries.py:32-135)."""

    def __init__(self, code: str, message: str) -> None:
        super().__init__(message)
        self.code = code


class InvalidCursor(InvalidQuery):
    """Undecodable/malformed page token — the reference 400s these with
    code InvalidCursor (v0.py:180-184, querier.py:50-51)."""

    def __init__(self, message: str) -> None:
        super().__init__("InvalidCursor", message)


def encode_cursor(last_start: int, last_id: str) -> str:
    """Opaque page token: base64-encoded JSON with the ``=`` padding
    stripped for URL cleanliness — the reference Cursor.serialized contract
    (querier.py:116-127).  The payload is the keyset position, not a page
    number, so resuming is O(remaining) at any depth."""
    import base64
    import json

    j = json.dumps(
        {"last_start": int(last_start), "last_id": last_id}, sort_keys=True
    )
    return base64.b64encode(j.encode("ascii")).rstrip(b"=").decode("ascii")


def decode_cursor(token: str | None) -> dict | None:
    """Inverse of encode_cursor: re-pad, base64-decode, JSON-parse,
    validate required fields (reference Cursor.from_serialized,
    querier.py:101-114).  Raises InvalidCursor on any malformation."""
    import base64
    import binascii
    import json

    if token is None:
        return None
    try:
        raw = base64.b64decode(token + "=" * (-len(token) % 4), validate=True)
        d = json.loads(raw)
    except (binascii.Error, ValueError, UnicodeDecodeError):
        raise InvalidCursor(f"Failed to decode cursor {token}")
    if not isinstance(d, dict) or "last_start" not in d or "last_id" not in d:
        raise InvalidCursor("cursor missing required fields")
    return d


def validate_query_params(params: dict) -> dict:
    """The reference's files-query validation (v0.py:143-177): ``what`` is
    required; exactly one of ``work_id`` or a (start, end) interval; times
    normalized to epoch-ms; start <= end.  Returns the normalized params.
    Runs driver-side before any plan is built — the engine's analysis-time
    error contract."""
    if not params:
        raise InvalidQuery("NoArgs", "Please provide query parameters.")
    if params.get("what") is None:
        raise InvalidQuery("NoWhat", "You must provide the what parameter.")
    work_id = params.get("work_id")
    start, end = params.get("start"), params.get("end")
    has_interval = start is not None or end is not None
    if work_id is None and not has_interval:
        raise InvalidQuery(
            "NoWorkInterval",
            "You must provide either work_id or start/end",
        )
    if work_id is not None and has_interval:
        raise InvalidQuery(
            "InvalidWorkInterval",
            "You must provide work_id or start/end. Not both.",
        )
    out = dict(params)
    if has_interval:
        if start is None or end is None:
            raise InvalidQuery(
                "NoWorkInterval", "start and end must be provided together"
            )
        try:
            out["start"], out["end"] = normalize_date(start), normalize_date(end)
        except InvalidDatalakeMetadata as e:
            raise InvalidQuery("InvalidTime", str(e)) from e
        if out["start"] > out["end"]:
            raise InvalidQuery("InvalidWorkInterval", "start must be before end")
    page = out.get("page")
    if page is not None and (not isinstance(page, int) or page < 0):
        raise InvalidQuery("InvalidCursor", f"invalid page {page!r}")
    return out


def interval_overlap(qstart, qend) -> F.Column:
    """The reference's overlap predicate incl. NULL-end = instant semantics
    (querier.py:286-303): [start, coalesce(end, start)] ∩ [qstart, qend] ≠ ∅.
    """
    return (F.col("start") <= F.lit(qend)) & (
        F.coalesce(F.col("end"), F.col("start")) >= F.lit(qstart)
    )


def bucket_prune(qstart: int, qend: int) -> F.Column:
    """Partition-prune helper: a file whose interval overlaps [qstart,qend]
    has bucket_date within [qstart_day - MAX_BUCKET_SPAN, qend_day] because
    intervals are bounded at 30 buckets (record.py:162-182).  Catalyst turns
    this into partition pruning on the (what, bucket_date) layout."""
    lo = F.date_sub(F.to_date(F.timestamp_millis(F.lit(qstart))), 30)
    hi = F.to_date(F.timestamp_millis(F.lit(qend)))
    return F.col("bucket_date").between(lo, hi)


class QueryEngine:
    def __init__(
        self,
        files: DataFrame,
        latest_table: DataFrame | None = None,
        work_id_index: "tuple[DataFrame, int] | None" = None,
    ):
        self.files_df = files
        self._latest = latest_table
        # (bucketed projection, num_buckets) from Catalog.work_id_index():
        # the analog of the reference's second DynamoDB index
        # (record.py:59 work_id_index_key) — see by_work_id
        self._wid_index = work_id_index
        self._has_bucket_date = "bucket_date" in files.columns

    # -- O1/O3: time-interval query ----------------------------------------
    def by_time(self, what: str, start, end, where: str | None = None) -> DataFrame:
        """Files of ``what`` whose interval overlaps [start, end], each id
        once.  The id dedup costs an exchange, and it stays: nothing forces
        two rows of one id to share ``start`` (an ``ObjectCreated:Copy``
        re-delivers the id with whatever metadata it carries), so they can
        sit in different splits and partitions, and a dedup inside each
        split followed by a merge would be unsound."""
        qstart, qend = normalize_date(start), normalize_date(end)
        df = self.files_df.filter(F.col("what") == what)
        if self._has_bucket_date:
            df = df.filter(bucket_prune(qstart, qend))
        df = df.filter(interval_overlap(qstart, qend))
        if where is not None:
            df = df.filter(F.col("where") == where)
        # global dedup by id — strictly stronger than the reference's
        # page-scoped dedup (querier.py:146-163, caveat v0.py:216-221)
        return df.dropDuplicates(["id"])

    # -- O2: work-id query --------------------------------------------------
    def by_work_id(self, work_id: str, what: str, where: str | None = None) -> DataFrame:
        """Files of ``what`` carrying ``work_id``, each id once.  The id
        dedup's exchange stays for the reason ``by_time`` gives: the rows
        of one re-delivered id need not share a split."""
        if self._wid_index is not None:
            # hash-bucket partition pruning: the bucket expression folds to
            # a literal (xxhash64 of a constant), so the scan touches
            # 1/num_buckets of the index instead of every (what,
            # bucket_date) partition of the files table — the reference
            # pays one DynamoDB hash-key read here (querier.py:192-215)
            idx, nb = self._wid_index
            df = idx.filter(
                (F.col("wid_bucket")
                 == F.pmod(F.xxhash64(F.lit(work_id)), F.lit(nb)).cast("int"))
                & (F.col("work_id") == work_id)
                & (F.col("what") == what)
            ).drop("wid_bucket")
        else:
            df = self.files_df.filter(
                (F.col("work_id") == work_id) & (F.col("what") == what)
            )
        if where is not None:
            df = df.filter(F.col("where") == where)
        return df.dropDuplicates(["id"])

    # -- O4/O5: latest ------------------------------------------------------
    @staticmethod
    def _latest_rank(now_bucket: int) -> F.Column:
        """The reference's bucket-walk ranking (querier.py:407-417 +
        _get_latest_record_in_bucket:384-395): buckets are walked newest-first
        and records fan out to EVERY day bucket their interval spans, so a
        record spanning into a newer bucket beats a later-starting record in
        an older bucket.  Rank = (newest bucket touched, capped at the walk's
        start bucket, then start, then create_time)."""
        end_eff = F.coalesce(F.col("end"), F.col("start"))
        # final id tiebreak: two records CAN tie on (bucket, start,
        # create_time) — e.g. same-payload uploads in one millisecond —
        # and the reference resolves that by write order, which has no
        # batch analog; the unique id makes the winner deterministic
        # (caught by the r6 sf1.0 run, where tiled events tie exactly)
        return F.struct(
            F.least(F.floor(end_eff / F.lit(DAY_MS)), F.lit(now_bucket)),
            F.col("start"),
            F.col("create_time"),
            F.col("id"),
        )

    def latest(
        self,
        what: str,
        where: str,
        as_of=None,
        lookback_days: int = DEFAULT_LOOKBACK_DAYS,
    ) -> DataFrame:
        """Newest file for (what, where) per the reference's day-bucket walk
        (querier.py:407-417): within the newest non-empty bucket of the
        lookback window, max by (start, create_time).  Returns 0-or-1 rows.

        Fast path (O5, querier.py:355-379): when a materialized latest table
        is attached, probe it first — a single point-read job of a tiny
        table, run by this call — and fall back to the full scan only if
        the row is absent or starts beyond the 24 h lookforward cap (the
        cap exists only on the latest-table path, as in the reference).  A
        hit comes back as a local relation, so the probe is the route's
        one job."""
        now = normalize_date(as_of if as_of is not None else "now")
        if self._latest is not None:
            hit = self._latest.filter(
                (F.col("what_where_key") == f"{what}:{where}")
                & (F.col("start") <= F.lit(now + LATEST_MAX_LOOKFORWARD_MS))
            ).drop("what_where_key")
            rows = hit.limit(1).collect()  # ONE job: probe + fetch together
            if rows:
                return local_frame(self.files_df.sparkSession, rows, hit.schema)
        now_bucket = now // DAY_MS
        lo_bucket = (now - lookback_days * DAY_MS) // DAY_MS
        end_eff = F.coalesce(F.col("end"), F.col("start"))
        # pushdown-friendly forms of bucket(start) <= now_bucket and
        # bucket(end_eff) >= lo_bucket
        df = self.files_df.filter(
            (F.col("what") == what)
            & (F.col("where") == where)
            & (F.col("start") < F.lit((now_bucket + 1) * DAY_MS))
            & (end_eff >= F.lit(lo_bucket * DAY_MS))
        )
        cols = [c for c in df.columns]
        return (
            df.groupBy("what", "where")
            .agg(F.max_by(F.struct(*cols), self._latest_rank(now_bucket)).alias("r"))
            .select("r.*")
        )

    def latest_all(self, as_of=None, lookback_days: int = DEFAULT_LOOKBACK_DAYS) -> DataFrame:
        """Bulk variant: latest per every (what, where) — the materialized
        latest table's full contents, computed with one shuffle.  Same
        bucket-walk ranking as latest()."""
        now = normalize_date(as_of if as_of is not None else "now")
        now_bucket = now // DAY_MS
        lo_bucket = (now - lookback_days * DAY_MS) // DAY_MS
        end_eff = F.coalesce(F.col("end"), F.col("start"))
        df = self.files_df.filter(
            (F.col("start") < F.lit((now_bucket + 1) * DAY_MS))
            & (end_eff >= F.lit(lo_bucket * DAY_MS))
        )
        cols = [c for c in df.columns]
        return (
            df.groupBy("what", "where")
            .agg(F.max_by(F.struct(*cols), self._latest_rank(now_bucket)).alias("r"))
            .select("r.*")
        )

    # -- O11: point lookup --------------------------------------------------
    def by_id(self, file_id: str) -> DataFrame:
        """The file with id ``file_id``: 0 or 1 rows, as the reference's
        one DynamoDB get (fetcher.py:70-91).  A re-delivered id has more
        than one row in the catalog; any one of them is the answer, so a
        limit stands in for the id dedup.  The plan has no exchange, and a
        collect stops at the first split that holds the id."""
        return self.files_df.filter(F.col("id") == file_id).limit(1)

    # -- O6: stable pagination emulation ------------------------------------
    def page(self, df: DataFrame, page: int = 0, page_size: int = MAX_RESULTS) -> DataFrame:
        """Deterministic page N: sort by (start, id), skip N pages, take one.

        Plans as TakeOrderedAndProject(limit=(N+1)*size, offset=N*size):
        every partition computes its own top-(N+1)*size and the driver
        merges — no single-partition global sort (the previous
        Window.orderBy-with-no-partitionBy formulation moved the ENTIRE
        result set to one partition).  Cost grows with page depth; for deep
        scans use page_after (keyset), which is O(page) regardless of depth.
        """
        return (
            df.orderBy(F.col("start"), F.col("id"))
            .offset(page * page_size)
            .limit(page_size)
        )

    def page_after(
        self,
        df: DataFrame,
        last_start: int | None = None,
        last_id: str | None = None,
        page_size: int = MAX_RESULTS,
    ) -> DataFrame:
        """Keyset pagination — the scale path, equivalent to the reference's
        resumable cursor (querier.py:54-143): WHERE (start, id) >
        (last_start, last_id) ORDER BY start, id LIMIT page_size.  The
        predicate is pushable, so each page is a bounded top-k over only the
        remainder — depth-independent cost."""
        if last_start is not None:
            df = df.filter(
                (F.col("start") > F.lit(last_start))
                | (
                    (F.col("start") == F.lit(last_start))
                    & (F.col("id") > F.lit(last_id))
                )
            )
        return df.orderBy(F.col("start"), F.col("id")).limit(page_size)

    def fetch_page(
        self,
        df: DataFrame,
        cursor: str | None = None,
        page_size: int = MAX_RESULTS,
    ) -> tuple[list, str | None]:
        """The reference's next-token loop (v0.py files_get + Cursor): one
        page of rows plus an opaque resumption token, or None when the
        result set is exhausted.  The token wraps the keyset position
        (page_after), so each page is a bounded pushable-predicate top-k —
        collecting page_size rows on the driver is the point of the API."""
        c = decode_cursor(cursor)
        page = self.page_after(
            df,
            c["last_start"] if c else None,
            c["last_id"] if c else None,
            page_size,
        )
        rows = page.collect()
        token = None
        if len(rows) == page_size:
            token = encode_cursor(rows[-1]["start"], rows[-1]["id"])
        return rows, token

    # -- O8/O9: projection + ISO enrichment ---------------------------------
    @staticmethod
    def unpack(df: DataFrame) -> DataFrame:
        """Response shape {url, metadata…, create_time, size} with ISO fields
        (v0.py:35-63): UTC, millisecond precision."""
        iso = "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"
        return df.select(
            "url",
            "create_time",
            "size",
            "id",
            "what",
            "where",
            "start",
            "end",
            "work_id",
            "path",
            "hash",
            F.date_format(F.timestamp_millis(F.col("start")), iso).alias("start_iso"),
            F.when(
                F.col("end").isNotNull(),
                F.date_format(F.timestamp_millis(F.col("end")), iso),
            ).alias("end_iso"),
        )

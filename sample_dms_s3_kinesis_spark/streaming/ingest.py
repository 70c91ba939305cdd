"""Streaming corpus ingestion with admission gates — the "every-crawl"
loop as a Structured Streaming task.

Couples the reference's file-tailing task shape (CDC polling loop,
`/root/reference/run.py:194-195` → `maxFilesPerTrigger` micro-batches,
same skeleton as ``streaming/cdc_task.py``) with the curation layer's
cross-corpus gates: each micro-batch of crawled documents is admitted
into the corpus only if it is

1. exact-novel WITHIN the batch (min-id survivor per content digest),
2. exact-novel vs the existing corpus (digest anti-join — the corpus
   ships 16-byte digests, never bodies), and
3. optionally near-novel vs the corpus (banded minhash via the same
   `_minhash_pairs` core as `operators.dedup`'s gates;
   the corpus side never self-joins and is served from PERSISTED
   per-batch signatures, so each micro-batch pays shingle+minhash for
   its own novel docs only — batches written without signatures fall
   back to recompute-from-text for just those batches), and
4. optionally SEMANTICALLY novel vs the corpus — cosine near-dup of
   the batch's embedding column against previously admitted vectors
   (sign-LSH blocked, exact at planes=0); docs shipped without an
   embedding skip this gate.

Durability/idempotency: each batch's admissions land in their own
``batch_id=N`` parquet directory written with overwrite semantics, and
a manifest records (batch_id → counters).  A crash-replay of a batch
overwrites the same directory and re-records the same manifest entry —
no duplicate rows, no double-counted stats — the same
replay-idempotence contract the CDC task keeps for its seq range.  At
100 TB the manifest+directories become a table format's transaction
log; the admission plan is unchanged.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sample_dms_s3_kinesis_spark.operators.dedup import (
    _cut_lineage,
    _minhash_pairs,
    _minhash_sigs,
)
from sample_dms_s3_kinesis_spark.tasks import (
    ReplicationTask,
    TaskStatus,
    pin_checkpoint,
    union_all,
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        # optional: present when an upstream encoder ships vectors with
        # the crawl; NULL otherwise (the semantic gate skips NULL rows)
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)

# The declared media types a TEXT corpus admits (WHATWG fetch's
# HTML-ish set plus text/plain).  Everything else a 200 can declare —
# application/pdf, image/*, application/json API payloads — is not
# prose, however cleanly its bytes happen to decode; armed via
# ``mime_allowlist=TEXT_MIME_ALLOWLIST``.
TEXT_MIME_ALLOWLIST = ("text/html", "application/xhtml+xml", "text/plain")


class CorpusIngestTask(ReplicationTask):
    """Tail ``drop_dir`` for document containers (JSON-lines by
    default; ``input_format="warc"`` for WARC crawl containers) and
    build a deduplicated corpus under ``corpus_dir``.  ``near_dup=True``
    arms the minhash admission gate on top of the exact digest gate."""

    def __init__(
        self,
        spark: SparkSession,
        drop_dir: str,
        corpus_dir: str,
        *,
        identifier: str = "corpus-ingest",
        input_format: str = "jsonl",
        doc_id_pattern: str | None = None,
        extract_html: bool = False,
        extract_mode: str = "text",
        near_dup: bool = False,
        num_hashes: int = 64,
        bands: int = 16,
        threshold: float = 0.9,
        max_band_width: int | None = 10_000,
        embedding_gate: bool = False,
        embedding_threshold: float = 0.99,
        embedding_planes: int = 4,
        embedding_dim: int | None = None,
        contract_rules=None,
        robots_rules: DataFrame | None = None,
        robots_agent: str = "*",
        postings: bool = False,
        ivf_cells: int | None = None,
        cdx_dir: str | None = None,
        cdx_schema: str | None = None,
        cdx_max_per_host: int | None = None,
        discover_links: bool = False,
        follow_redirects: bool = False,
        track_revalidations: bool = False,
        on_page_robots: bool = False,
        mime_allowlist: tuple[str, ...] | list[str] | None = None,
        pdf_text: bool = False,
        lang_id: bool = False,
        frontier_max_per_host: int | None = None,
        frontier_key: str = "url",
        checkpoint_dir: str | None = None,
    ) -> None:
        super().__init__(identifier)
        self.spark = spark
        self.drop_dir = drop_dir
        self.corpus_dir = corpus_dir.rstrip("/")
        # input_format: "jsonl" drops are DOC_SCHEMA JSON-lines files;
        # "warc" drops are WARC containers ("warc_gz" for gzipped
        # ones) — intact 200 responses become (doc_id, text=HTTP body)
        # rows (doc_id = xxhash64 of the full URI unless the opt-in
        # doc_id_pattern below extracts one), everything else
        # (requests, warcinfo, non-200, marker-collision fragments,
        # URI-less responses) is dropped at the container boundary.
        # Pair with extract_html=True for raw crawl pages.
        if input_format not in ("jsonl", "warc", "warc_gz"):
            raise ValueError(
                "input_format must be 'jsonl', 'warc' or 'warc_gz', "
                f"got {input_format!r}"
            )
        self.input_format = input_format
        # doc_id_pattern (WARC modes): a regex whose group 1 is a
        # numeric doc id embedded in the target URI.  OPT-IN, for URI
        # spaces where that id is known globally unique — a suffix
        # pattern like '/p/([0-9]+)$' ALIASES across hosts otherwise
        # (a.com/p/7 and b.com/p/7 would share an id).  Default: the
        # 64-bit xxhash64 of the full URI.  NOTE the birthday bound: a
        # 64-bit id space reaches ~50% collision probability around
        # 5e9 distinct URIs (and ~0.3% at 1e8) — a collision silently
        # merges two distinct pages under the exact-dup admission
        # gate.  For corpora approaching 1e8+ pages, supply a
        # doc_id_pattern with a truly unique id, or key dedup decisions
        # on the md5 digest column (128-bit) the gate already computes.
        self.doc_id_pattern = doc_id_pattern
        # extract_html: drops carry RAW crawl pages; each batch runs
        # operators.text.html_extract before any gate, so digests,
        # minhash signatures and contract rules all see extracted
        # CONTENT (two mirrors differing only in markup dedup exactly)
        # and boilerplate-only pages reject like null-text rows.
        self.extract_html = extract_html
        # extract_mode (with extract_html=True): "text" runs
        # operators.text.html_extract (every block); "main" runs
        # html_main_content — link-density/length boilerplate strip
        # (nav bars, footers, link farms drop BEFORE digesting), the
        # extraction a production corpus normally ships.  Gates see
        # the chosen extraction, so two mirrors differing only in
        # boilerplate dedup exactly under "main".
        if extract_mode not in ("text", "main"):
            raise ValueError(
                f"extract_mode must be 'text' or 'main', got {extract_mode!r}"
            )
        if extract_mode != "text" and not extract_html:
            raise ValueError("extract_mode requires extract_html=True")
        self.extract_mode = extract_mode
        self.near_dup = near_dup
        self.num_hashes = num_hashes
        self.bands = bands
        self.threshold = threshold
        self.max_band_width = max_band_width
        if embedding_gate and not embedding_dim:
            raise ValueError("embedding_gate=True requires embedding_dim")
        self.embedding_gate = embedding_gate
        self.embedding_threshold = embedding_threshold
        self.embedding_planes = embedding_planes
        self.embedding_dim = embedding_dim
        # optional gate 0: declarative quality contract (operators.
        # quality RowRules); failing rows divert to the per-batch
        # quarantine store with the first failing rule's name — the
        # ingest twin of the CDC apply-exceptions channel.
        self.contract_rules = list(contract_rules) if contract_rules else None
        # optional POLITENESS gate (runs before every content gate):
        # robots_rules is a parse_robots output frame; pages whose
        # (host, path) the rules disallow for robots_agent divert to
        # the per-batch _quarantine_robots store and count as
        # rejected_robots next to rejected_contract.  WARC modes only:
        # the decision keys off the target URI, which JSONL drops
        # don't carry.
        if robots_rules is not None and input_format == "jsonl":
            raise ValueError(
                "robots_rules requires a WARC input_format (the "
                "robots decision keys off each page's target URI)"
            )
        self.robots_rules = robots_rules
        self.robots_agent = robots_agent
        # optional output: admitted batches also append their positional
        # postings to the persisted inverted index (PostingsIndex
        # layout), so the corpus is searchable as it grows — mirrors the
        # reference's incremental-apply pattern (run.py:193-198: new
        # data lands, derived state updates incrementally).
        self.build_postings = postings
        # optional output: admitted batches with embeddings append
        # their cell assignments to a persisted IVF index (the vector
        # twin of ``postings``).  The coarse quantizer is TRAINED ONCE
        # on the first vector-carrying batch and frozen — standard IVF
        # practice (retraining would orphan earlier assignments).
        self.ivf_cells = ivf_cells
        # optional index-sidecar mode: ``cdx_dir`` holds CDXJ index
        # drops (the crawl's ~1/1000-size sidecar); process_cdx_
        # available() selects the captures the FETCH TIER should
        # retrieve — latest valid capture, status 200, digest not
        # already admitted, not already selected — and persists the
        # selected-capture manifest under _cdx_selected/.  The
        # streaming twin of q_cdx_selection_pipeline.  ``cdx_schema``
        # declares the sidecar's JSON payload fields and must carry
        # url, status and digest (the standard CDXJ fields the
        # selection gates read).
        if cdx_dir is not None:
            if not cdx_schema:
                raise ValueError("cdx_dir requires cdx_schema")
            names = set(T.StructType.fromDDL(cdx_schema).fieldNames())
            missing = {"url", "status", "digest"} - names
            if missing:
                raise ValueError(
                    "cdx_schema must declare url, status and digest; "
                    f"missing {sorted(missing)}"
                )
        self.cdx_dir = cdx_dir
        self.cdx_schema = cdx_schema
        self.cdx_max_per_host = cdx_max_per_host
        # optional link-discovery side-output (WARC modes only — the
        # base URL is each page's target URI): every robots-allowed
        # fetched page's anchors run html_links -> resolve_url, the
        # batch's unique URLs anti-join (a) the admitted corpus (by the
        # same xxhash64-of-URI identity the doc ids use), (b) this
        # batch's own fetched URIs, and (c) everything discovered by
        # EARLIER batches (pre-batch state, so replays are
        # deterministic), then an optional CUMULATIVE per-host budget
        # caps what lands in the per-batch _frontier/ store — the
        # fetch tier's next work list, the streaming twin of
        # q_link_frontier and the link-modality sibling of the CDX
        # sidecar mode above.
        if discover_links and input_format == "jsonl":
            raise ValueError(
                "discover_links requires a WARC input_format (link "
                "resolution keys off each page's target URI)"
            )
        # on_page_robots: honor per-page robots directives — a
        # noindex page (via <meta name="robots"> or the X-Robots-Tag
        # header) is never admitted (diverted to _quarantine_noindex,
        # counted rejected_noindex), and a nofollow page contributes
        # NO anchor links to the frontier (counted nofollow_pages).
        # Pages opt out of exactly the use this pipeline puts them to;
        # robots.txt compliance alone does not honor that.  WARC modes
        # only (the directives live in the markup + HTTP headers).
        if on_page_robots and input_format == "jsonl":
            raise ValueError(
                "on_page_robots requires a WARC input_format (the "
                "directives live in page markup and HTTP headers)"
            )
        self.on_page_robots = on_page_robots
        # mime_allowlist: the content-type admission gate.  A 200
        # response whose DECLARED media type (warc_responses'
        # http_content_type — parameters like charset already parsed
        # off) is not in the allowlist diverts to the per-batch
        # _quarantine_mime store and counts as rejected_mime — BEFORE
        # extraction and every content gate, AFTER link discovery (a
        # rejected page's anchors/sitemap locs still feed the frontier:
        # like noindex, the gate controls corpus ADMISSION, not the
        # crawl graph).  Responses that declare no Content-Type at all
        # pass (the gate rejects declared non-text, it does not demand
        # a declaration).  Matching is case-insensitive on the media
        # type alone.  WARC modes only (JSONL drops carry no headers).
        if mime_allowlist is not None and input_format == "jsonl":
            raise ValueError(
                "mime_allowlist requires a WARC input_format (the "
                "declared media type lives in each response's HTTP "
                "headers)"
            )
        if mime_allowlist is not None and not mime_allowlist:
            raise ValueError(
                "mime_allowlist must be None (gate off) or a non-empty "
                "sequence of media types"
            )
        self.mime_allowlist = (
            tuple(m.strip().lower() for m in mime_allowlist)
            if mime_allowlist is not None
            else None
        )
        # pdf_text: route application/pdf 200s through the from-scratch
        # text-layer extractor (operators/pdf.py) instead of rejecting
        # them at the MIME gate — extracted text joins the admission
        # pipeline AFTER html_extract (PDF text is already prose, the
        # HTML stripper would mangle it); failed extractions
        # (encrypted, unsupported filter, image-only, parse errors)
        # divert to the per-batch _quarantine_pdf store with their
        # error and count as rejected_pdf; successes count
        # pdf_extracted.  Requires the MIME gate: routing is a carve-
        # out of the gate's rejection, and the gate supplies the
        # declared-type plumbing column.
        if pdf_text and mime_allowlist is None:
            raise ValueError(
                "pdf_text requires mime_allowlist (PDF routing is a "
                "carve-out of the MIME admission gate)"
            )
        self.pdf_text = pdf_text
        # lang_id: label every ADMITTED document with the language-ID
        # router's prediction (operators/classify.py:lang_id_router —
        # non-Latin scripts off the code points, Latin text through
        # the session-cached char-trigram NB model).  The label rides
        # the corpus parquet as a `lang` column; batches written
        # without it read back NULL.  Labeling happens at admission
        # time on the FINAL text (post-extraction), so the corpus
        # composition a mixing step reads is the composition of what
        # was actually admitted.
        self.lang_id = lang_id
        if frontier_max_per_host is not None and not discover_links:
            raise ValueError(
                "frontier_max_per_host requires discover_links=True"
            )
        # frontier_key: "url" dedups the frontier on the exact URL;
        # "surt" dedups on the canonical SURT urlkey
        # (operators/urls.py:surt_urlkey) so MIRROR spellings of one
        # page — www./port/query-order/fragment variants — enter the
        # frontier once (the smallest URL per key is the
        # representative fetched).  The store then carries the urlkey
        # next to the url.
        if frontier_key not in ("url", "surt"):
            raise ValueError(
                f"frontier_key must be 'url' or 'surt', got {frontier_key!r}"
            )
        if frontier_key != "url" and not discover_links:
            raise ValueError("frontier_key requires discover_links=True")
        # follow_redirects: 3xx responses' Location targets (resolved
        # against the request URI — sources/crawl.py:redirect_edges)
        # enter the SAME frontier the anchor links feed, behind the
        # same unseen/robots/cap gates.  Real crawls are ~20-30%
        # redirects; without this a moved page contributes nothing.
        # Requires discover_links (the frontier store is where targets
        # land).
        if follow_redirects and input_format == "jsonl":
            raise ValueError(
                "follow_redirects requires a WARC input_format "
                "(redirects key off warc_responses' http_location)"
            )
        if follow_redirects and not discover_links:
            raise ValueError(
                "follow_redirects requires discover_links=True"
            )
        # track_revalidations: 304 Not Modified responses (what a
        # conditional refetch with the stored If-None-Match /
        # If-Modified-Since validators gets back for an unchanged
        # page) land in the per-batch _revalidated/ store and count as
        # `revalidated` — freshness confirmation a corpus owner reads
        # next to the admission funnel, never a re-admission (a 304
        # carries no body).  WARC modes only (keys off the target URI).
        if track_revalidations and input_format == "jsonl":
            raise ValueError(
                "track_revalidations requires a WARC input_format "
                "(revalidation keys off each response's target URI)"
            )
        self.discover_links = discover_links
        self.follow_redirects = follow_redirects
        self.track_revalidations = track_revalidations
        self.frontier_max_per_host = frontier_max_per_host
        self.frontier_key = frontier_key
        self.checkpoint_dir = (
            checkpoint_dir or f"/tmp/ingest-checkpoint-{uuid.uuid4()}"
        )
        self._query = None
        os.makedirs(self.corpus_dir, exist_ok=True)

    # -- manifest ------------------------------------------------------
    # batch_id → {"admitted": n, "dropped_exact": n, "dropped_near": n,
    # "dropped_sem": n, "rejected": n, "rejected_contract": n,
    # "rejected_robots": n}; keyed upserts make replay re-recording
    # idempotent (older manifests lack newer counters → 0).

    def _manifest_file(self) -> str:
        return f"{self.corpus_dir}/_MANIFEST.json"

    def _load_manifest(self) -> dict[str, dict]:
        try:
            with open(self._manifest_file()) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def _record_batch(self, batch_id: int, counts: dict) -> None:
        manifest = self._load_manifest()
        manifest[str(batch_id)] = counts
        tmp = f"{self._manifest_file()}.tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_file())

    # -- public surface ------------------------------------------------

    def corpus(self, *, before: int | None = None) -> DataFrame:
        """The admitted corpus: (doc_id, text, digest, embedding,
        lang, batch_id) — ``embedding`` NULL for docs ingested without
        one, ``lang`` NULL unless the batch ran with ``lang_id=True``
        (including whole batches written before either column existed).
        An empty corpus reads as an empty frame, not an error.
        ``before`` restricts to batches with id < before — the corpus
        state a given batch must gate against, which keeps a
        crash-REPLAY of that batch from suppressing its own prior
        admissions."""
        manifest = self._load_manifest()
        paths = [
            f"{self.corpus_dir}/batch_id={b}"
            for b in sorted(manifest, key=int)
            if manifest[b].get("admitted", 0) > 0
            and (before is None or int(b) < before)
        ]
        if not paths:
            return self.spark.createDataFrame(
                [],
                "doc_id long, text string, digest string, "
                "embedding array<double>, lang string, batch_id long",
            )
        df = (
            self.spark.read.option("basePath", self.corpus_dir)
            .option("mergeSchema", "true")
            .parquet(*paths)
        )
        if "embedding" not in df.columns:
            df = df.withColumn(
                "embedding", F.lit(None).cast("array<double>")
            )
        if "lang" not in df.columns:
            df = df.withColumn("lang", F.lit(None).cast("string"))
        return df.select(
            "doc_id", "text", "digest", "embedding", "lang", "batch_id"
        )

    def language_composition(self) -> DataFrame:
        """Corpus composition by MODEL-assigned language: (lang,
        n_docs, doc_share) over the admitted corpus — the pre-sampling
        mixing report a multilingual training-data pipeline reads
        before setting per-language quotas (``lang_id=True`` mode;
        unlabeled batches report lang NULL).  One groupBy over the
        corpus; share = n_docs / total."""
        c = self.corpus().groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs")
        )
        total = F.sum("n_docs").over(Window.partitionBy())
        return c.select(
            "lang",
            F.col("n_docs").cast("int").alias("n_docs"),
            F.round(F.col("n_docs") / total, 6).alias("doc_share"),
        )

    # -- persisted signatures ------------------------------------------
    # The near gate's corpus side is served from SAVED minhash
    # signatures (fixed-width, ~8·num_hashes bytes/doc): each admitted
    # batch writes its docs' signatures next to its parquet, so a
    # micro-batch pays shingle+minhash for the NEW docs only — the
    # recompute-the-corpus-every-batch cost the bare
    # near_dedup_against() call had grows with corpus size and is
    # exactly what a 100 TB ingest loop cannot afford.  Batches that
    # predate the signature store (near_dup armed later) or were
    # written under different (num_hashes, bands) fall back to
    # recompute-from-text for just those batches.

    def _sig_dir(self) -> str:
        return f"{self.corpus_dir}/_signatures"

    def _sig_params_file(self) -> str:
        return f"{self._sig_dir()}/_PARAMS.json"

    def _sig_params_ok(self) -> bool:
        try:
            with open(self._sig_params_file()) as f:
                p = json.load(f)
            return (
                int(p.get("num_hashes", -1)) == self.num_hashes
                and int(p.get("bands", -1)) == self.bands
            )
        except (OSError, ValueError):
            return False

    def _write_sig_params(self) -> None:
        os.makedirs(self._sig_dir(), exist_ok=True)
        if os.path.exists(self._sig_params_file()) and not self._sig_params_ok():
            # the store was built under DIFFERENT (num_hashes, bands):
            # new batches are about to write current-geometry
            # signatures next to stale ones, and a later session
            # reverting to the old params would trust the mixed store
            # wholesale.  Signatures are derived data — drop the whole
            # store and let reads recompute; the params file then pins
            # the current geometry.
            import shutil

            shutil.rmtree(self._sig_dir())
            os.makedirs(self._sig_dir(), exist_ok=True)
        if not os.path.exists(self._sig_params_file()):
            with open(self._sig_params_file(), "w") as f:
                json.dump(
                    {"num_hashes": self.num_hashes, "bands": self.bands}, f
                )

    def _sig_frame(self, docs: DataFrame) -> DataFrame:
        # the dedup operators' signature builder — same signatures as
        # the former minhash_signature expression form, so persisted
        # stores written by either are interchangeable
        return _minhash_sigs(
            docs, text_col="text", id_col="doc_id", num_hashes=self.num_hashes
        )

    def _derived_store(
        self,
        *,
        before: int | None,
        stored_ok,
        read_stored,
        recompute,
        empty_schema: str,
    ) -> DataFrame:
        """Shared skeleton for every per-batch derived store
        (signatures / postings / IVF assignment): admitted batches
        with a stored directory are read from it, the rest recompute
        from their corpus copy, and the union is the store's current
        view.  ``stored_ok(batch_id)`` gates the stored path;
        ``read_stored(batch_ids)`` and ``recompute(docs_frame)``
        produce aligned frames."""
        manifest = self._load_manifest()
        batches = [
            int(b)
            for b in sorted(manifest, key=int)
            if manifest[b].get("admitted", 0) > 0
            and (before is None or int(b) < before)
        ]
        stored = [b for b in batches if stored_ok(b)]
        missing = [b for b in batches if b not in set(stored)]
        parts = []
        if stored:
            parts.append(read_stored(stored))
        if missing:
            docs = (
                self.spark.read.option("basePath", self.corpus_dir)
                .option("mergeSchema", "true")
                .parquet(*[f"{self.corpus_dir}/batch_id={b}" for b in missing])
            )
            if "embedding" not in docs.columns:
                # batches admitted before the embedding column existed
                # (same fallback corpus() applies)
                docs = docs.withColumn(
                    "embedding", F.lit(None).cast("array<double>")
                )
            parts.append(recompute(docs))
        if not parts:
            return self.spark.createDataFrame([], empty_schema)
        return union_all(parts)

    def signatures(self, *, before: int | None = None) -> DataFrame:
        """(_id, _sig) for the admitted corpus (optionally batches
        < ``before``): persisted signatures where available, recomputed
        from text for batches written without them."""
        params_ok = self._sig_params_ok()
        return self._derived_store(
            before=before,
            stored_ok=lambda b: params_ok
            and os.path.isdir(f"{self._sig_dir()}/batch_id={b}"),
            read_stored=lambda ids: self.spark.read.parquet(
                *[f"{self._sig_dir()}/batch_id={b}" for b in ids]
            ).select("_id", "_sig"),
            recompute=self._sig_frame,
            empty_schema="_id long, _sig array<bigint>",
        )

    # -- persisted postings --------------------------------------------
    # ``postings=True`` arms an incremental inverted index: each
    # admitted batch writes its positional postings (token-bucketed
    # like PostingsIndex.save) next to its parquet.  postings_index()
    # serves searches from the stored copies — equal to a fresh
    # PostingsIndex.build over the whole corpus, without re-tokenizing
    # history — and recomputes from text only for batches admitted
    # before the flag was armed (same fallback contract as
    # ``signatures``).

    def _postings_dir(self) -> str:
        return f"{self.corpus_dir}/_postings"

    def postings_index(self, *, before: int | None = None):
        """A :class:`~sample_dms_s3_kinesis_spark.operators.search.
        PostingsIndex` over the admitted corpus (optionally batches
        < ``before``)."""
        from sample_dms_s3_kinesis_spark.operators.search import (
            PostingsIndex,
            postings as _postings,
        )

        frame = self._derived_store(
            before=before,
            stored_ok=lambda b: os.path.isdir(
                f"{self._postings_dir()}/batch_id={b}"
            ),
            read_stored=lambda ids: self.spark.read.option(
                "basePath", self._postings_dir()
            )
            .parquet(
                *[f"{self._postings_dir()}/batch_id={b}" for b in ids]
            )
            .select("doc_id", "pos", "token", "_tb"),
            recompute=lambda docs: _postings(docs.select("doc_id", "text"))
            .withColumn("_tb", PostingsIndex._bucket(F.col("token")))
            .select("doc_id", "pos", "token", "_tb"),
            empty_schema="doc_id long, pos int, token string, _tb int",
        )
        return PostingsIndex(frame, id_col="doc_id")

    # -- persisted IVF assignment --------------------------------------
    # ``ivf_cells=N`` arms the vector twin of the postings index: the
    # coarse quantizer (deterministic seed centroids) is trained once
    # on the first admitted batch that carries >= N embeddings and
    # written to ``_ivf/centroids``; every admitted batch's vectors are
    # assigned to their nearest frozen cell and land partitioned BY
    # CELL under ``_ivf/assigned/batch_id=K`` (overwrite-idempotent),
    # so a loaded probe partition-prunes across every batch at once.
    # Batches admitted before the flag (or before the quantizer
    # existed) recompute their assignment from the corpus copy — the
    # same fallback contract as ``signatures``/``postings_index``.

    def _ivf_dir(self) -> str:
        return f"{self.corpus_dir}/_ivf"

    def ivf_index(self, *, before: int | None = None):
        """A :class:`~sample_dms_s3_kinesis_spark.operators.similarity.
        IvfIndex` over the admitted corpus vectors (optionally batches
        < ``before``).  Raises ``ValueError`` until a vector-carrying
        batch has trained the quantizer."""
        from sample_dms_s3_kinesis_spark.operators.similarity import (
            IvfIndex,
            ivf_assign,
        )

        cent_dir = f"{self._ivf_dir()}/centroids"
        if not os.path.isdir(cent_dir):
            raise ValueError(
                "no IVF quantizer yet: no admitted batch carried "
                f">= ivf_cells embeddings (corpus {self.corpus_dir})"
            )
        centroids = self.spark.read.parquet(cent_dir)

        def _recompute(docs: DataFrame) -> DataFrame:
            vecs = docs.filter(F.col("embedding").isNotNull()).select(
                "doc_id", "embedding"
            )
            assigned = ivf_assign(
                vecs, centroids, vec_col="embedding", id_col="doc_id"
            )
            return vecs.join(assigned, on="doc_id").select(
                "doc_id", "embedding", "cell"
            )

        frame = self._derived_store(
            before=before,
            stored_ok=lambda b: os.path.isdir(
                f"{self._ivf_dir()}/assigned/batch_id={b}"
            ),
            read_stored=lambda ids: self.spark.read.option(
                "basePath", f"{self._ivf_dir()}/assigned"
            )
            .parquet(
                *[f"{self._ivf_dir()}/assigned/batch_id={b}" for b in ids]
            )
            .select("doc_id", "embedding", "cell"),
            recompute=_recompute,
            empty_schema="doc_id long, embedding array<double>, cell int",
        )
        return IvfIndex(
            centroids, frame, vec_col="embedding", id_col="doc_id"
        )

    def ingest_stats(self) -> dict[str, int]:
        """Cumulative admission counters, rebuilt from the manifest —
        restart-stable the way describe_table_statistics is for the
        CDC task.  (Named distinctly from the base class's event-stats
        accumulator ``self.stats``.)"""
        totals = {
            "admitted": 0,
            "dropped_exact": 0,
            "dropped_near": 0,
            "dropped_sem": 0,
            "rejected": 0,
            "rejected_contract": 0,
            "rejected_robots": 0,
            "rejected_noindex": 0,
            "rejected_mime": 0,
            "rejected_pdf": 0,
            "pdf_extracted": 0,
            "nofollow_pages": 0,
            "revalidated": 0,
        }
        for counts in self._load_manifest().values():
            for k in totals:
                totals[k] += int(counts.get(k, 0))
        return totals

    def quarantined(self) -> DataFrame:
        """(doc_id, failed_rule, batch_id) for every contract-rejected
        row — the ingest twin of the CDC exceptions table."""
        manifest = self._load_manifest()
        paths = [
            f"{self.corpus_dir}/_quarantine/batch_id={b}"
            for b in sorted(manifest, key=int)
            if int(manifest[b].get("rejected_contract", 0)) > 0
        ]
        if not paths:
            return self.spark.createDataFrame(
                [], "doc_id long, failed_rule string, batch_id long"
            )
        # Cast to the declared contract: the partition-inferred
        # batch_id comes back int (the empty branch declares long),
        # and doc_id is whatever dtype the batch carried — both paths
        # must agree on (long, string, long).
        return (
            self.spark.read.option(
                "basePath", f"{self.corpus_dir}/_quarantine"
            )
            .parquet(*paths)
            .select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col("failed_rule").cast("string").alias("failed_rule"),
                F.col("batch_id").cast("long").alias("batch_id"),
            )
        )

    def revalidations(self) -> DataFrame:
        """(doc_id, target_uri, batch_id) for every 304-revalidated
        response — freshness confirmations from conditional refetches,
        the refresh tier's answer channel (pair with
        `operators/urls.py:recrawl_priority`'s due scores and the
        validator columns `warc_responses` surfaces)."""
        manifest = self._load_manifest()
        paths = [
            f"{self.corpus_dir}/_revalidated/batch_id={b}"
            for b in sorted(manifest, key=int)
            if int(manifest[b].get("revalidated", 0)) > 0
        ]
        if not paths:
            return self.spark.createDataFrame(
                [], "doc_id long, target_uri string, batch_id long"
            )
        return (
            self.spark.read.option(
                "basePath", f"{self.corpus_dir}/_revalidated"
            )
            .parquet(*paths)
            .select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col("target_uri").cast("string").alias("target_uri"),
                F.col("batch_id").cast("long").alias("batch_id"),
            )
        )

    def robots_quarantined(self) -> DataFrame:
        """(doc_id, target_uri, batch_id) for every robots-disallowed
        page — the politeness twin of :meth:`quarantined`."""
        manifest = self._load_manifest()
        paths = [
            f"{self.corpus_dir}/_quarantine_robots/batch_id={b}"
            for b in sorted(manifest, key=int)
            if int(manifest[b].get("rejected_robots", 0)) > 0
        ]
        if not paths:
            return self.spark.createDataFrame(
                [], "doc_id long, target_uri string, batch_id long"
            )
        return (
            self.spark.read.option(
                "basePath", f"{self.corpus_dir}/_quarantine_robots"
            )
            .parquet(*paths)
            .select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col("target_uri").cast("string").alias("target_uri"),
                F.col("batch_id").cast("long").alias("batch_id"),
            )
        )

    def noindex_quarantined(self, before: int | None = None) -> DataFrame:
        """(doc_id, target_uri, batch_id) for every page whose on-page
        robots directives said noindex — the page-level twin of
        :meth:`robots_quarantined` (on_page_robots mode).  ``before``
        restricts to batches < it (the replay-deterministic pre-batch
        view the frontier's seen-set union needs — same contract as
        ``corpus(before=...)``)."""
        manifest = self._load_manifest()
        paths = [
            f"{self.corpus_dir}/_quarantine_noindex/batch_id={b}"
            for b in sorted(manifest, key=int)
            if int(manifest[b].get("rejected_noindex", 0)) > 0
            and (before is None or int(b) < before)
        ]
        if not paths:
            return self.spark.createDataFrame(
                [], "doc_id long, target_uri string, batch_id long"
            )
        return (
            self.spark.read.option(
                "basePath", f"{self.corpus_dir}/_quarantine_noindex"
            )
            .parquet(*paths)
            .select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col("target_uri").cast("string").alias("target_uri"),
                F.col("batch_id").cast("long").alias("batch_id"),
            )
        )

    def mime_quarantined(self) -> DataFrame:
        """(doc_id, target_uri, content_type, batch_id) for every page
        whose declared media type the allowlist rejected — the
        content-type twin of :meth:`noindex_quarantined`
        (mime_allowlist mode).  A corpus owner reads this channel to
        spot allowlist gaps (e.g. a site serving prose as
        application/octet-stream) before widening the gate."""
        manifest = self._load_manifest()
        paths = [
            f"{self.corpus_dir}/_quarantine_mime/batch_id={b}"
            for b in sorted(manifest, key=int)
            if int(manifest[b].get("rejected_mime", 0)) > 0
        ]
        if not paths:
            return self.spark.createDataFrame(
                [],
                "doc_id long, target_uri string, content_type string, "
                "batch_id long",
            )
        return (
            self.spark.read.option(
                "basePath", f"{self.corpus_dir}/_quarantine_mime"
            )
            .parquet(*paths)
            .select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col("target_uri").cast("string").alias("target_uri"),
                F.col("content_type")
                .cast("string")
                .alias("content_type"),
                F.col("batch_id").cast("long").alias("batch_id"),
            )
        )

    def pdf_quarantined(self) -> DataFrame:
        """(doc_id, target_uri, error, batch_id) for every
        application/pdf page the extractor could not turn into text
        (``pdf_text`` mode) — encrypted documents, unsupported stream
        filters, image-only scans, parse failures.  The PDF twin of
        :meth:`mime_quarantined`; the error string tells the corpus
        owner WHICH capability gap each page hit."""
        manifest = self._load_manifest()
        paths = [
            f"{self.corpus_dir}/_quarantine_pdf/batch_id={b}"
            for b in sorted(manifest, key=int)
            if int(manifest[b].get("rejected_pdf", 0)) > 0
        ]
        if not paths:
            return self.spark.createDataFrame(
                [],
                "doc_id long, target_uri string, error string, "
                "batch_id long",
            )
        return (
            self.spark.read.option(
                "basePath", f"{self.corpus_dir}/_quarantine_pdf"
            )
            .parquet(*paths)
            .select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col("target_uri").cast("string").alias("target_uri"),
                F.col("error").cast("string").alias("error"),
                F.col("batch_id").cast("long").alias("batch_id"),
            )
        )

    # -- CDX index-sidecar selection ------------------------------------
    # The fetch-tier front door: a real corpus build reads the crawl
    # INDEX (~1/1000 of the crawl) and decides which captures to fetch
    # BEFORE touching any WARC byte.  process_cdx_available() is that
    # decision as a drain-and-return batch, persisting the selected-
    # capture manifest the fetch tier consumes; its own manifest keys
    # replay idempotence (a re-drained sidecar selects nothing new).

    def _cdx_manifest_file(self) -> str:
        return f"{self.corpus_dir}/_CDX_MANIFEST.json"

    def _load_cdx_manifest(self) -> dict[str, dict]:
        try:
            with open(self._cdx_manifest_file()) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def _record_cdx_batch(self, batch_id: int, counts: dict) -> None:
        manifest = self._load_cdx_manifest()
        manifest[str(batch_id)] = counts
        tmp = f"{self._cdx_manifest_file()}.tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._cdx_manifest_file())

    def _selected_schema(self) -> str:
        return (
            "urlkey string, capture_ts string, "
            + str(self.cdx_schema)
            + ", n_captures long, host string, batch_id long"
        )

    def selected_captures(self) -> DataFrame:
        """The cumulative selected-capture manifest: (urlkey,
        capture_ts, <cdx payload fields>, n_captures, host, batch_id)
        — what the fetch tier retrieves next.  Empty frame when no
        sidecar batch has selected anything yet."""
        if self.cdx_dir is None:
            raise ValueError("selected_captures requires cdx_dir")
        manifest = self._load_cdx_manifest()
        paths = [
            f"{self.corpus_dir}/_cdx_selected/batch_id={b}"
            for b in sorted(manifest, key=int)
            if int(manifest[b].get("n_selected", 0)) > 0
        ]
        cols = T.StructType.fromDDL(self._selected_schema()).fieldNames()
        if not paths:
            return self.spark.createDataFrame([], self._selected_schema())
        return (
            self.spark.read.option(
                "basePath", f"{self.corpus_dir}/_cdx_selected"
            )
            .parquet(*paths)
            .select(
                *[F.col(c) for c in cols if c != "batch_id"],
                F.col("batch_id").cast("long").alias("batch_id"),
            )
        )

    def cdx_stats(self) -> dict[str, int]:
        """Cumulative sidecar-selection counters, rebuilt from the CDX
        manifest — the index-side twin of :meth:`ingest_stats`."""
        totals = {
            "n_rejects": 0,
            "n_latest": 0,
            "n_200": 0,
            "n_unseen": 0,
            "n_selected": 0,
        }
        for counts in self._load_cdx_manifest().values():
            for k in totals:
                totals[k] += int(counts.get(k, 0))
        return totals

    def process_cdx_available(self) -> None:
        """Drain every CDX sidecar currently in ``cdx_dir`` as ONE
        selection batch: latest valid capture per urlkey (malformed
        lines -> rejects count) -> status-200 -> unseen-digest
        anti-join against the ADMITTED corpus -> already-selected
        anti-join (replay idempotence: a re-drained sidecar selects
        nothing new) -> optional per-host cap -> persisted
        selected-capture manifest.  The streaming twin of
        q_cdx_selection_pipeline; every count lands in the CDX
        manifest under the next unused batch id."""
        if self.cdx_dir is None:
            raise ValueError("process_cdx_available requires cdx_dir")
        from sample_dms_s3_kinesis_spark.operators import urls as _urls
        from sample_dms_s3_kinesis_spark.sources import crawl

        if self.status == TaskStatus.READY.value:
            self._set_status(TaskStatus.RUNNING)
        manifest = self._load_cdx_manifest()
        batch_id = max((int(b) for b in manifest), default=-1) + 1
        raw = crawl.read_cdx(self.spark, self.cdx_dir, self.cdx_schema)
        n_rejects = crawl.jsonl_rejects(raw).count()
        latest = crawl.cdx_latest_captures(crawl.jsonl_records(raw))
        head = latest.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum((F.col("status") == "200").cast("long")), F.lit(0)
            ).alias("n200"),
        ).collect()[0]
        live = latest.filter(F.col("status") == "200")
        # the admitted corpus side: digests only — bodies never shuffle
        corp = self.corpus().select(F.md5("text").alias("digest")).distinct()
        prev = self.selected_captures()
        unseen = live.join(corp, "digest", "left_anti").join(
            prev.select("urlkey", "capture_ts"),
            ["urlkey", "capture_ts"],
            "left_anti",
        )
        with_host = unseen.withColumn("host", _urls.url_host(F.col("url")))
        n_unseen = with_host.count()
        if self.cdx_max_per_host is not None:
            # CUMULATIVE per-host budget: slots already spent by prior
            # batches count (domain_caps_against, prior side ships
            # host counts only) — so a replayed sidecar whose
            # over-budget captures lost their slot in an earlier batch
            # stays idempotent instead of re-admitting them.
            selected = (
                _urls.domain_caps_against(
                    with_host,
                    prev,
                    domain_col="host",
                    max_per_domain=self.cdx_max_per_host,
                    order_col="urlkey",
                    keep_col="_sel",
                )
                .filter(F.col("_sel") == 1)
                .drop("_sel")
            )
        else:
            selected = with_host
        out = f"{self.corpus_dir}/_cdx_selected/batch_id={batch_id}"
        selected.write.mode("overwrite").parquet(out)
        self.spark.catalog.refreshByPath(out)
        n_selected = self.spark.read.parquet(out).count()
        self._record_cdx_batch(
            batch_id,
            {
                "n_rejects": int(n_rejects),
                "n_latest": int(head["n"]),
                "n_200": int(head["n200"]),
                "n_unseen": int(n_unseen),
                "n_selected": int(n_selected),
            },
        )

    # -- link-discovery frontier ----------------------------------------

    def _frontier_dir(self) -> str:
        return f"{self.corpus_dir}/_frontier"

    def discovered_frontier(
        self, *, before: int | None = None
    ) -> DataFrame:
        """The cumulative discovered-URL frontier: (url, host,
        batch_id) — what the fetch tier retrieves next.  ``before``
        restricts to batches strictly earlier (the pre-batch state the
        admission-time anti-join uses, so a crash-replay of batch N is
        suppressed only by batches < N, never by its own earlier
        attempt).  Empty frame when nothing is discovered yet."""
        if not self.discover_links:
            raise ValueError("discovered_frontier requires discover_links")
        root = self._frontier_dir()
        cols = ["url", "host"] + (
            ["urlkey"] if self.frontier_key == "surt" else []
        )
        schema = (
            ", ".join(f"{c} string" for c in cols) + ", batch_id long"
        )
        try:
            dirs = [
                d
                for d in os.listdir(root)
                if d.startswith("batch_id=")
                and (before is None or int(d.split("=", 1)[1]) < before)
            ]
        except OSError:
            return self.spark.createDataFrame([], schema)
        if not dirs:
            return self.spark.createDataFrame([], schema)
        return (
            self.spark.read.option("basePath", root)
            .parquet(*[f"{root}/{d}" for d in sorted(dirs)])
            .select(
                *cols,
                F.col("batch_id").cast("long").alias("batch_id"),
            )
        )

    def frontier_stats(self) -> dict[str, int]:
        """Cumulative link-discovery counters, rebuilt from the batch
        manifest — the discovery twin of :meth:`ingest_stats`."""
        totals = {
            "discovered_links": 0,
            "discovered_unique": 0,
            "discovered_redirects": 0,
            "frontier_new": 0,
        }
        for counts in self._load_manifest().values():
            for k in totals:
                totals[k] += int(counts.get(k, 0))
        return totals

    def fetch_plan(
        self,
        delays: DataFrame | None = None,
        *,
        default_delay: float = 1.0,
        include_cdx: bool = False,
        backoff: DataFrame | None = None,
    ) -> DataFrame:
        """The pending fetch work list, politeness-scheduled: each URL
        gets a per-host ``wave`` and ``fetch_offset_s`` honoring robots
        Crawl-delay (`operators/urls.py:fetch_schedule` — requests to
        one host serialize ``crawl_delay`` seconds apart, hosts proceed
        in parallel).  ``delays`` is a (host, crawl_delay) frame from
        `operators/robots.py:robots_crawl_delays`; None schedules every
        host at ``default_delay``.

        Sources: the link-discovery frontier (``discover_links``
        mode), plus — with ``include_cdx=True`` — the CDX-selected
        capture URLs (``cdx_dir`` mode).  The two modalities dedup on
        the exact URL, so a page both linked-to and index-selected is
        fetched ONCE.

        The plan is PENDING work: in default-id mode (doc_id =
        xxhash64 of the URI) URLs whose page has since been admitted
        to the corpus drop out, so a frontier entry stops re-listing
        once its fetch lands — the stores themselves stay append-only.
        With a ``doc_id_pattern`` the corpus ids are not URI hashes
        and this exclusion is skipped (an extra fetch, never a
        correctness issue).

        When the task carries ``robots_rules``, URLs those rules
        disallow for ``robots_agent`` are dropped BEFORE scheduling —
        the fetch tier must never be handed a request robots forbids
        (the allow/deny twin of the Crawl-delay spacing this method
        already honors).

        ``backoff`` is a (host, backoff_s) frame — typically
        `operators/urls.py:host_backoff` over the last fetch round's
        responses: a 429ing/503ing host's whole wave train shifts out
        by its penalty instead of being re-hit on the same cadence."""
        from sample_dms_s3_kinesis_spark.operators import urls as _urls

        if include_cdx and self.cdx_dir is None:
            raise ValueError("include_cdx=True requires cdx_dir")
        sources = []
        if self.discover_links:
            sources.append(self.discovered_frontier().select("url", "host"))
        if include_cdx:
            sources.append(
                self.selected_captures().select(
                    "url",
                    F.coalesce(
                        F.col("host"), _urls.url_host(F.col("url"))
                    ).alias("host"),
                )
            )
        if not sources:
            raise ValueError(
                "fetch_plan needs discover_links and/or include_cdx"
            )
        frontier = union_all(sources)
        if len(sources) > 1:
            frontier = frontier.distinct()
        if self.doc_id_pattern is None:
            # pending-only: drop URLs whose page has since been fetched
            # and admitted (8-byte URI-hash anti-join, bodies never move)
            frontier = frontier.withColumn(
                "_id", F.xxhash64(F.col("url"))
            ).join(
                self.corpus().select(F.col("doc_id").alias("_id")),
                "_id",
                "left_anti",
            ).drop("_id")
        if self.robots_rules is not None:
            from sample_dms_s3_kinesis_spark.operators import (
                robots as _robots,
            )

            keyed = frontier.withColumn(
                "url_path",
                F.when(
                    _urls.url_path(F.col("url")) == "", F.lit("/")
                ).otherwise(_urls.url_path(F.col("url"))),
            )
            decisions = _robots.robots_decisions(
                keyed.select("host", "url_path"),
                self.robots_rules,
                agent=self.robots_agent,
            )
            frontier = (
                keyed.join(decisions, ["host", "url_path"], "left")
                .filter(F.coalesce(F.col("allowed"), F.lit(1)) == 1)
                .drop("url_path", "allowed")
            )
        if delays is None:
            delays = self.spark.createDataFrame(
                [], "host string, crawl_delay double"
            )
        return _urls.fetch_schedule(
            frontier,
            delays,
            order_col="url",
            default_delay=default_delay,
            backoff=backoff,
        )

    def _discover_frontier(
        self,
        pages: DataFrame,
        batch_id: int,
        *,
        redirects: DataFrame | None = None,
        redirect_sources: DataFrame | None = None,
        extra_fetched: DataFrame | None = None,
    ) -> dict[str, int]:
        """Run the batch's pages through link extraction -> resolution
        -> unseen gates -> optional cumulative per-host budget, land
        the new frontier URLs in the per-batch overwrite store, and
        return the counters for the batch manifest.  ``pages`` carries
        (text = RAW page markup, _uri) — discovery runs BEFORE
        extract_html replaces the text, and after the robots gate (a
        politeness-denied page must not contribute links).

        ``redirects`` (follow_redirects mode) is the batch's
        robots-allowed (url = 3xx source URI, target = resolved
        Location) edges: targets join the candidate set behind the
        SAME unseen/cap gates the anchor links pass.
        ``redirect_sources`` is the PRE-robots source URI set — every
        3xx source the crawler actually fetched, robots judgment or
        not — and joins the batch's fetched set (a page linking to a
        known-redirecting URL must not re-frontier it; a denied source
        was still fetched even though its target contributes
        nothing)."""
        from sample_dms_s3_kinesis_spark.operators import text as _text
        from sample_dms_s3_kinesis_spark.operators import urls as _urls

        from sample_dms_s3_kinesis_spark.sources import crawl as _crawl

        # the effective base: a <base href> declaration (itself resolved
        # against the page URI — the HTML rule) overrides the page URI
        eff_base = F.coalesce(
            _urls.resolve_url(
                F.col("_uri"), _text.html_base_href(F.col("text"))
            ),
            F.col("_uri"),
        )
        # on_page_robots also honors the per-LINK channel: anchors
        # carrying rel=nofollow contribute no edge even on pages whose
        # page-level flags allow following
        _links_fn = (
            _text.html_followable_links
            if self.on_page_robots
            else _text.html_links
        )
        anchor_links = pages.select(
            eff_base.alias("_base"),
            F.explode(_links_fn(F.col("text"))).alias("_href"),
        )
        # a fetched SITEMAP contributes its <loc> entries instead of
        # anchors (it has none): page URLs and child sitemaps both
        # enter the frontier — the crawler fetches child sitemaps like
        # any other URL.  HTML pages never match the root-element
        # probe, and prose mentioning '<urlset' yields no <url> blocks.
        sm = pages.filter(
            F.col("text").rlike(r"(?is)<\s*(urlset|sitemapindex)\b")
        ).select(F.col("_uri").alias("_base"), F.col("text").alias("xml"))
        sm_links = _crawl.sitemap_entries(sm, key_cols=["_base"]).select(
            "_base", F.col("loc").alias("_href")
        )
        links = (
            anchor_links.unionByName(sm_links)
            .select(
                _urls.resolve_url(F.col("_base"), F.col("_href")).alias(
                    "url"
                )
            )
            .filter(F.col("url").isNotNull())
            # persisted: the head aggregate and the store write would
            # otherwise each re-run the container parse + extraction
            .persist()
        )
        head = links.agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("url").alias("n_unique"),
        ).collect()[0]
        n_redirects = 0
        cand = links
        if redirects is not None:
            # targets are already-resolved absolute URLs — they skip
            # the extract/resolve stage and join the candidate set
            # directly (the count is one action on a lineage-cut thin
            # frame, not a container re-parse)
            n_redirects = redirects.count()
            cand = links.unionByName(
                redirects.filter(F.col("target").isNotNull()).select(
                    F.col("target").alias("url")
                )
            )
        uniq = cand.distinct().withColumn(
            "host", _urls.url_host(F.col("url"))
        )
        if self.frontier_key == "surt":
            # mirror collapse: one representative URL (the smallest)
            # per canonical SURT key — one partial-aggregating groupBy;
            # resolve_url only emits http(s) URLs so the key is never
            # NULL, but coalesce keeps a pathological row fetchable
            # rather than merging all NULLs into one
            uniq = (
                uniq.withColumn(
                    "urlkey",
                    F.coalesce(
                        _urls.surt_urlkey(F.col("url")), F.col("url")
                    ),
                )
                .groupBy("urlkey")
                .agg(
                    F.min("url").alias("url"),
                    F.min_by("host", "url").alias("host"),
                )
            )
        # unseen: (a) not fetched by THIS batch; (b) in default-id mode
        # (doc_id = xxhash64(target_uri)) not an admitted page either —
        # the join ships 8-byte ids, never URLs or bodies; with a
        # doc_id_pattern the corpus ids are NOT URI hashes, so that
        # side is skipped (the frontier may then re-list a previously
        # admitted URL — an extra fetch, never a correctness issue);
        # (c) not discovered by an earlier batch (pre-batch state:
        # replay-deterministic, same contract as corpus(before=...)).
        fetched = pages.select(
            F.xxhash64(F.col("_uri")).alias("_id")
        )
        srcs = (
            redirect_sources if redirect_sources is not None else redirects
        )
        if srcs is not None:
            fetched = fetched.unionByName(
                srcs.select(F.xxhash64(F.col("url")).alias("_id"))
            )
        if extra_fetched is not None:
            # e.g. nofollow pages: fetched, no edges contributed
            fetched = fetched.unionByName(
                extra_fetched.select(
                    F.xxhash64(F.col("url")).alias("_id")
                )
            )
        fetched = fetched.distinct()
        if self.doc_id_pattern is None:
            fetched = fetched.unionByName(
                self.corpus(before=batch_id).select(
                    F.col("doc_id").alias("_id")
                )
            )
            if self.on_page_robots:
                # a noindex page was FETCHED and quarantined, never
                # admitted — without this union a later batch's anchor
                # at it would re-frontier (and refetch) it forever;
                # the quarantine store keys on the same URI-hash
                # doc_id admitted pages use
                fetched = fetched.unionByName(
                    self.noindex_quarantined(before=batch_id).select(
                        F.col("doc_id").alias("_id")
                    )
                )
        prev = self.discovered_frontier(before=batch_id)
        # the seen-before key: exact URL, or the canonical SURT key in
        # surt mode (a NEW mirror spelling of an already-discovered
        # page must not re-enter)
        seen_key = "url" if self.frontier_key == "url" else "urlkey"
        unseen = (
            uniq.withColumn("_id", F.xxhash64(F.col("url")))
            .join(fetched, "_id", "left_anti")
            .drop("_id")
            .join(prev.select(seen_key), seen_key, "left_anti")
        )
        if self.frontier_max_per_host is not None:
            # CUMULATIVE per-host budget across batches, the same
            # domain_caps_against contract the CDX mode keeps: slots
            # spent by earlier batches count, the prior side ships
            # host counts only.
            new = (
                _urls.domain_caps_against(
                    unseen,
                    prev,
                    domain_col="host",
                    max_per_domain=self.frontier_max_per_host,
                    order_col="url",
                    keep_col="_sel",
                )
                .filter(F.col("_sel") == 1)
                .drop("_sel")
            )
        else:
            new = unseen
        out = f"{self._frontier_dir()}/batch_id={batch_id}"
        store_cols = ["url", "host"] + (
            ["urlkey"] if self.frontier_key == "surt" else []
        )
        new.select(*store_cols).write.mode("overwrite").parquet(out)
        self.spark.catalog.refreshByPath(out)
        n_new = self.spark.read.parquet(out).count()
        links.unpersist()
        return {
            "discovered_links": int(head["n_links"]),
            "discovered_unique": int(head["n_unique"]),
            "frontier_new": int(n_new),
            **(
                {"discovered_redirects": int(n_redirects)}
                if redirects is not None
                else {}
            ),
        }

    # -- lifecycle -----------------------------------------------------

    def _checkpoint_marker(self) -> str:
        return f"{self.corpus_dir}/_CHECKPOINT"

    def start(self) -> None:
        self._set_status(TaskStatus.STARTING)
        # Stream epoch ids name the batch directories, so restarting a
        # populated corpus with a DIFFERENT (or fresh-uuid) checkpoint
        # would renumber batches from 0: corpus(before=0) bypasses
        # every dedup gate and overwrite clobbers batch 0's admitted
        # docs.  Pin the checkpoint the corpus was built with (ingest
        # drains share the manifest id space, so ANY populated
        # manifest pins).  Shared helper: path-normalized compare +
        # fail-loud on a populated store without a marker.
        try:
            pin_checkpoint(
                self._checkpoint_marker(),
                self.checkpoint_dir,
                populated=bool(self._load_manifest()),
                what=f"corpus {self.corpus_dir}",
            )
        except Exception:
            self._set_status(TaskStatus.FAILED)
            raise
        self._query = (
            self._source_frame(streaming=True)
            .writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .start()
        )
        self._set_status(TaskStatus.RUNNING)

    def stop(self) -> None:
        if self._query is not None:
            try:
                self._query.processAllAvailable()
            except Exception:
                pass
            self._query.stop()
            try:
                self._query.awaitTermination(30)
            except Exception:
                pass
        self._set_status(TaskStatus.STOPPED)

    def process_available(self) -> None:
        """Drain-and-return batch mode: every pending file as ONE batch,
        recorded under the next unused manifest batch id (negative ids
        would collide on repeated drains)."""
        if self.status == TaskStatus.READY.value:
            self._set_status(TaskStatus.RUNNING)
        manifest = self._load_manifest()
        next_id = max((int(b) for b in manifest), default=-1) + 1
        self._process_batch(self._source_frame(streaming=False), next_id)

    def _source_frame(self, *, streaming: bool) -> DataFrame:
        """The drop-dir as a DOC_SCHEMA-shaped frame, batch or
        streaming, per ``input_format``."""
        opts = {"maxFilesPerTrigger": 1} if streaming else None
        if self.input_format == "jsonl":
            reader = self.spark.readStream if streaming else self.spark.read
            return (
                reader.options(**(opts or {}))
                .schema(DOC_SCHEMA)
                .json(self.drop_dir)
            )
        from sample_dms_s3_kinesis_spark.sources import crawl

        if self.input_format == "warc_gz":
            # binary_payload: real-crawl mode — gzip-encoded HTTP
            # bodies keep their bytes so warc_responses can decode
            # them; undecodable ones surface as body NULL and drop in
            # the filter below
            records = crawl.read_warc_gz(
                self.spark,
                self.drop_dir,
                streaming=streaming,
                binary_payload=True,
                options=opts,
            )
        else:
            records = crawl.read_warc_records(
                self.spark, self.drop_dir, streaming=streaming, options=opts
            )
        # pdf_text + binary containers: the text decode above mangles
        # a binary PDF's bytes (U+FFFD replacement), so the raw record
        # payload rides along for the extractor to strip the header
        # block and HTTP codings itself (pdf.http_entity_bytes)
        responses = crawl.warc_responses(
            records, keep_payload_bin=self.pdf_text
        )
        # target_uri must exist: the URI is the doc identity, and
        # xxhash64(NULL) is a fixed constant — URI-less responses would
        # all collapse onto one doc_id.  They drop here instead.
        filtered = responses.filter(
            F.col("length_ok")
            & (F.col("http_status") == 200)
            & F.col("body").isNotNull()
            & F.col("target_uri").isNotNull()
        )
        if self.doc_id_pattern:
            doc_id = F.coalesce(
                F.regexp_extract(
                    "target_uri", self.doc_id_pattern, 1
                ).try_cast("long"),
                F.xxhash64("target_uri"),
            )
        else:
            doc_id = F.xxhash64("target_uri")
        out = filtered.select(
            doc_id.alias("doc_id"),
            F.col("body").alias("text"),
            F.lit(None).cast("array<double>").alias("embedding"),
            # the robots gate judges (host, path) of the fetched URI,
            # and link discovery resolves hrefs against it — carried as
            # a plumbing column and dropped before anything reaches the
            # corpus store
            *(
                [F.col("target_uri").alias("_uri")]
                if self.robots_rules is not None
                or self.discover_links
                or self.track_revalidations
                or self.on_page_robots
                or self.mime_allowlist is not None
                else []
            ),
            # on-page robots: the header channel rides along raw; the
            # meta channel is parsed off the markup in _process_batch
            *(
                [F.col("http_x_robots_tag").alias("_x_robots")]
                if self.on_page_robots
                else []
            ),
            # MIME gate plumbing: the declared media type, folded to
            # its case-insensitive canonical form (http_content_type
            # already carries the media type alone; trim guards the
            # pre-';' whitespace a 'text/html ; charset=..' leaves)
            *(
                [
                    F.lower(F.trim(F.col("http_content_type"))).alias(
                        "_mime"
                    )
                ]
                if self.mime_allowlist is not None
                else []
            ),
            # pdf_text + binary containers: raw payload bytes, PDF
            # rows only (the column stays NULL-thin for every other
            # row; dropped with the other plumbing columns)
            *(
                [
                    F.when(
                        F.lower(F.trim(F.col("http_content_type")))
                        == "application/pdf",
                        F.col("payload_bin"),
                    ).alias("_pdf_bin")
                ]
                if self.pdf_text and "payload_bin" in responses.columns
                else []
            ),
        )
        if self.follow_redirects:
            # 3xx rows ride along as plumbing rows (text NULL, a
            # _redirect_target column): _process_batch diverts them to
            # the frontier before any content gate.  length_ok is NOT
            # required — the Location lives in the headers, and a
            # body-truncated redirect still names its target.
            redir = crawl.redirect_edges(responses).select(
                F.xxhash64("url").alias("doc_id"),
                F.lit(None).cast("string").alias("text"),
                F.lit(None).cast("array<double>").alias("embedding"),
                F.col("url").alias("_uri"),
                *(
                    [F.lit(None).cast("string").alias("_x_robots")]
                    if self.on_page_robots
                    else []
                ),
                *(
                    [F.lit(None).cast("string").alias("_mime")]
                    if self.mime_allowlist is not None
                    else []
                ),
                *(
                    [F.lit(None).cast("binary").alias("_pdf_bin")]
                    if self.pdf_text
                    and "payload_bin" in responses.columns
                    else []
                ),
                F.col("redirect_target").alias("_redirect_target"),
            )
            out = out.withColumn(
                "_redirect_target", F.lit(None).cast("string")
            ).unionByName(redir)
        if self.track_revalidations:
            # 304 rows ride along like the redirect rows: text NULL, a
            # _revalidated marker; diverted to the freshness store
            # before any content gate.  The doc_id expression is the
            # SAME one admitted pages use, so a revalidation row joins
            # its corpus doc by id.
            reval = responses.filter(
                (F.col("http_status") == 304)
                & F.col("target_uri").isNotNull()
            ).select(
                doc_id.alias("doc_id"),
                F.lit(None).cast("string").alias("text"),
                F.lit(None).cast("array<double>").alias("embedding"),
                F.col("target_uri").alias("_uri"),
                *(
                    [F.lit(None).cast("string").alias("_x_robots")]
                    if self.on_page_robots
                    else []
                ),
                *(
                    [F.lit(None).cast("string").alias("_mime")]
                    if self.mime_allowlist is not None
                    else []
                ),
                *(
                    [F.lit(None).cast("binary").alias("_pdf_bin")]
                    if self.pdf_text
                    and "payload_bin" in responses.columns
                    else []
                ),
                *(
                    [F.lit(None).cast("string").alias("_redirect_target")]
                    if self.follow_redirects
                    else []
                ),
                F.lit(True).alias("_revalidated"),
            )
            out = out.withColumn(
                "_revalidated", F.lit(None).cast("boolean")
            ).unionByName(reval)
        return out

    # -- the admission pipeline ----------------------------------------

    @staticmethod
    def _with_robots_key(df: DataFrame, uri_col: str) -> DataFrame:
        """Append ``(host, url_path)`` derived from ``uri_col`` — the
        RFC 9309 decision key (a bare-host URI's empty path normalizes
        to ``"/"`` so it still hits root rules)."""
        from sample_dms_s3_kinesis_spark.operators import urls as _urls

        p = _urls.url_path(F.col(uri_col))
        return df.withColumn(
            "host", _urls.url_host(F.col(uri_col))
        ).withColumn(
            "url_path", F.when(p == "", F.lit("/")).otherwise(p)
        )

    def _robots_joined(self, keyed: DataFrame) -> DataFrame:
        """``keyed`` (carrying host, url_path) left-joined with the
        task's robots decisions — callers filter on ``allowed`` (NULL =
        no rule for the host = allowed).  Persist or lineage-cut
        ``keyed`` first: it appears on both sides of the plan."""
        from sample_dms_s3_kinesis_spark.operators import (
            robots as _robots,
        )

        decisions = _robots.robots_decisions(
            keyed.select("host", "url_path"),
            self.robots_rules,
            agent=self.robots_agent,
        )
        return keyed.join(decisions, ["host", "url_path"], "left")

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # Redirect plumbing rows (follow_redirects mode) divert FIRST:
        # they are navigation artifacts like fetched sitemaps — their
        # targets feed the frontier below, the rows themselves never
        # count against the content funnel.
        redirects = None
        if (
            self.follow_redirects
            and "_redirect_target" in batch_df.columns
        ):
            redirects = batch_df.filter(
                F.col("_redirect_target").isNotNull()
            ).select(
                F.col("_uri").alias("url"),
                F.col("_redirect_target").alias("target"),
            )
            batch_df = batch_df.filter(
                F.col("_redirect_target").isNull()
            )
        if "_redirect_target" in batch_df.columns:
            batch_df = batch_df.drop("_redirect_target")
        # Revalidation plumbing rows (track_revalidations mode): 304s
        # confirm freshness of an already-fetched page — they land in
        # the per-batch _revalidated store (overwrite: replay-
        # idempotent) and count as `revalidated`, never as content.
        n_reval = 0
        if (
            self.track_revalidations
            and "_revalidated" in batch_df.columns
        ):
            revals = batch_df.filter(
                F.coalesce(F.col("_revalidated"), F.lit(False))
            ).select("doc_id", F.col("_uri").alias("target_uri"))
            batch_df = batch_df.filter(
                ~F.coalesce(F.col("_revalidated"), F.lit(False))
            )
            revals = revals.persist()
            n_reval = revals.count()
            if n_reval > 0:
                vdir = (
                    f"{self.corpus_dir}/_revalidated"
                    f"/batch_id={batch_id}"
                )
                revals.write.mode("overwrite").parquet(vdir)
                self.spark.catalog.refreshByPath(vdir)
            revals.unpersist()
        if "_revalidated" in batch_df.columns:
            batch_df = batch_df.drop("_revalidated")
        if "embedding" not in batch_df.columns:
            # direct callers may ship (doc_id, text) frames; the
            # streaming path always reads the full DOC_SCHEMA
            batch_df = batch_df.withColumn(
                "embedding", F.lit(None).cast("array<double>")
            )
        valid = batch_df.filter(
            F.col("doc_id").isNotNull() & F.col("text").isNotNull()
        )
        # POLITENESS gate: robots.txt compliance, before every content
        # gate (a disallowed page must not even be inspected for
        # quality).  Denied rows land in the per-batch
        # _quarantine_robots store (overwrite: replay-idempotent) and
        # count as rejected_robots.
        n_robots = 0
        _robots_pages = None  # persisted parse, released after `head`
        if self.robots_rules is not None and "_uri" in valid.columns:
            # persisted: decisions joins pages back onto ITSELF, and
            # unpersisted that plan would embed the full WARC container
            # parse once per side, then again for the denied count and
            # the admitted pipeline — 4 container re-parses per batch
            _robots_pages = self._with_robots_key(valid, "_uri").persist()
            joined = self._robots_joined(_robots_pages)
            denied = joined.filter(F.col("allowed") == 0).persist()
            n_robots = denied.count()
            if n_robots > 0:
                rdir = (
                    f"{self.corpus_dir}/_quarantine_robots"
                    f"/batch_id={batch_id}"
                )
                (
                    denied.select(
                        "doc_id", F.col("_uri").alias("target_uri")
                    )
                    .write.mode("overwrite")
                    .parquet(rdir)
                )
                self.spark.catalog.refreshByPath(rdir)
            denied.unpersist()
            valid = joined.filter(
                F.coalesce(F.col("allowed"), F.lit(1)) == 1
            ).drop("host", "url_path", "allowed")
        # ON-PAGE ROBOTS, phase 1: fold <meta name="robots"> with the
        # X-Robots-Tag header into per-page flags.  nofollow bites at
        # link discovery below (the page must not contribute frontier
        # edges); noindex bites AFTER discovery (a noindex page's links
        # are still followable — it opts out of the INDEX, not the
        # crawl graph).
        n_nofollow = 0
        n_noindex = 0
        if self.on_page_robots and "_x_robots" in valid.columns:
            from sample_dms_s3_kinesis_spark.operators import (
                text as _ptext,
            )

            flags = _ptext.robots_directive_flags(
                F.col("text"), F.col("_x_robots")
            )
            valid = (
                valid.withColumn("_opr", flags)
                .withColumn("_noindex", F.col("_opr.noindex"))
                .withColumn("_nofollow", F.col("_opr.nofollow"))
                .drop("_opr", "_x_robots")
            )
            # counted UNCONDITIONALLY (r15, the r14 advice): the
            # counter is an observability channel like
            # rejected_noindex, not "frontier edges cut" — a
            # discover_links=False batch must still report its
            # nofollow pages
            n_nofollow = valid.filter(F.col("_nofollow")).count()
        # LINK DISCOVERY side-output: runs on the RAW page markup of
        # every robots-allowed page (before extraction replaces the
        # text, before any content gate — a near-dup page still has
        # links worth following).
        fr_counts: dict[str, int] = {}
        n_sitemap = 0
        if self.discover_links and "_uri" in valid.columns:
            redirect_sources = None
            if redirects is not None:
                # cut first: the thin (url, target) frame otherwise
                # re-parses the container on both sides of the robots
                # decisions join below
                redirects = _cut_lineage(redirects)
                # the FETCHED set takes every source, robots judgment
                # or not — the crawler retrieved it, so an anchor at it
                # must not re-frontier it
                redirect_sources = redirects.select("url")
                if self.robots_rules is not None:
                    # the same politeness rule the page gate applies: a
                    # robots-denied SOURCE must not contribute its
                    # target
                    redirects = (
                        self._robots_joined(
                            self._with_robots_key(redirects, "url")
                        )
                        .filter(
                            F.coalesce(F.col("allowed"), F.lit(1)) == 1
                        )
                        .drop("host", "url_path", "allowed")
                    )
            # lineage cut: the discovery expressions (entity-decode
            # transform per href + the resolve chain) stacked on top of
            # the robots-decisions join compile into one enormous
            # whole-stage — janino alone OOMs a 1 GiB driver.  Cutting
            # here materializes the batch's (text, uri) rows once and
            # gives discovery a leaf input (also sparing a re-run of
            # the robots join on the discovery branch).
            disc_src = valid
            nofollow_sources = None
            if "_nofollow" in valid.columns:
                # nofollow pages contribute no anchor edges, but they
                # WERE fetched — they must stay in the frontier's
                # fetched anti-join so another page linking at them
                # cannot re-frontier them (n_nofollow already counted
                # at flag time above)
                if n_nofollow > 0:
                    disc_src = valid.filter(~F.col("_nofollow"))
                    nofollow_sources = _cut_lineage(
                        valid.filter(F.col("_nofollow")).select(
                            F.col("_uri").alias("url")
                        )
                    )
            fr_counts = self._discover_frontier(
                _cut_lineage(disc_src.select("text", "_uri")),
                batch_id,
                redirects=redirects,
                redirect_sources=redirect_sources,
                extra_fetched=nofollow_sources,
            )
            # fetched sitemaps are navigation artifacts: their locs
            # just entered the frontier, the XML itself must not be
            # admitted as corpus content (same root-element probe the
            # discovery uses)
            is_sm = F.col("text").rlike(
                r"(?is)<\s*(urlset|sitemapindex)\b"
            )
            n_sitemap = valid.filter(is_sm).count()
            if n_sitemap > 0:
                valid = valid.filter(~is_sm)
            fr_counts["rejected_sitemap"] = int(n_sitemap)
        # ON-PAGE ROBOTS, phase 2: noindex pages divert to the
        # per-batch _quarantine_noindex store (overwrite:
        # replay-idempotent) and count as rejected_noindex — AFTER
        # their links fed the frontier, BEFORE any content gate.
        if "_noindex" in valid.columns:
            noidx = valid.filter(F.col("_noindex")).persist()
            n_noindex = noidx.count()
            if n_noindex > 0:
                ndir = (
                    f"{self.corpus_dir}/_quarantine_noindex"
                    f"/batch_id={batch_id}"
                )
                (
                    noidx.select(
                        "doc_id", F.col("_uri").alias("target_uri")
                    )
                    .write.mode("overwrite")
                    .parquet(ndir)
                )
                self.spark.catalog.refreshByPath(ndir)
            noidx.unpersist()
            if n_noindex > 0:
                valid = valid.filter(~F.col("_noindex"))
            valid = valid.drop("_noindex", "_nofollow")
        # MIME/content-type admission gate: pages whose DECLARED media
        # type is outside the allowlist divert to the per-batch
        # _quarantine_mime store (overwrite: replay-idempotent) and
        # count as rejected_mime — AFTER link discovery (their anchors
        # and sitemap locs already fed the frontier; like noindex, the
        # gate controls admission, not the crawl graph), BEFORE
        # extraction (a PDF/image/JSON body must never reach
        # html_extract or the quality gates as garbage prose).
        # Undeclared content types pass.
        # PDF carve-out of the MIME gate (pdf_text mode): declared
        # application/pdf pages route to the from-scratch text-layer
        # extractor instead of quarantining.  Successes re-enter the
        # admission pipeline AFTER html_extract with their extracted
        # text; failures (encrypted / unsupported filter / image-only /
        # parse error) divert to _quarantine_pdf with the error string
        # — the same exceptions-channel philosophy as the CDC task.
        n_pdf_ok = 0
        n_pdf_failed = 0
        pdf_ok = None
        if self.pdf_text and "_mime" in valid.columns:
            from sample_dms_s3_kinesis_spark.operators.pdf import (
                extract_pdf_text,
            )

            is_pdf = F.col("_mime") == "application/pdf"
            has_bin = "_pdf_bin" in valid.columns
            raw_bin = (
                F.col("_pdf_bin")
                if has_bin
                else F.lit(None).cast("binary")
            )
            # binary containers supply the raw record payload (the
            # text column is the mangled UTF-8 projection there); the
            # text WARC reader supplies the body string, whose UTF-8
            # re-encode is byte-exact for the ASCII PDFs that survive
            # a text-mode transport
            pdf_src = valid.filter(is_pdf).select(
                "doc_id",
                F.col("_uri").alias("target_uri"),
                F.coalesce(
                    raw_bin, F.encode(F.col("text"), "UTF-8")
                ).alias("content"),
                raw_bin.isNotNull().alias("_raw_http"),
            )
            ext = (
                extract_pdf_text(
                    pdf_src.select("doc_id", "content", "_raw_http"),
                    content_col="content",
                    id_col="doc_id",
                    http_col="_raw_http",
                )
                .join(pdf_src.select("doc_id", "target_uri"), "doc_id")
                .persist()
            )
            failed = ext.filter(F.col("error").isNotNull())
            n_pdf_failed = failed.count()
            if n_pdf_failed > 0:
                pdir = (
                    f"{self.corpus_dir}/_quarantine_pdf"
                    f"/batch_id={batch_id}"
                )
                (
                    failed.select("doc_id", "target_uri", "error")
                    .write.mode("overwrite")
                    .parquet(pdir)
                )
                self.spark.catalog.refreshByPath(pdir)
            ok = ext.filter(F.col("error").isNull()).select(
                "doc_id",
                "text",
                F.lit(None).cast("array<double>").alias("embedding"),
            )
            n_pdf_ok = ok.count()
            if n_pdf_ok > 0:
                # materialize before the source frame mutates below —
                # and the extractor must run exactly once per page
                pdf_ok = _cut_lineage(ok)
            ext.unpersist()
            if n_pdf_ok or n_pdf_failed:
                # coalesce: ~is_pdf is NULL for NULL _mime rows, and a
                # bare filter would silently DROP every undeclared-
                # Content-Type page (which the MIME gate admits) from
                # any batch containing one PDF (r15 review sweep #1)
                valid = valid.filter(
                    ~F.coalesce(is_pdf, F.lit(False))
                )
        n_mime = 0
        if self.mime_allowlist is not None and "_mime" in valid.columns:
            from sample_dms_s3_kinesis_spark.sources.crawl import (
                mime_admitted,
            )

            bad_type = ~mime_admitted(
                F.col("_mime"), self.mime_allowlist
            )
            bad_mime = valid.filter(bad_type).persist()
            n_mime = bad_mime.count()
            if n_mime > 0:
                mdir = (
                    f"{self.corpus_dir}/_quarantine_mime"
                    f"/batch_id={batch_id}"
                )
                (
                    bad_mime.select(
                        "doc_id",
                        F.col("_uri").alias("target_uri"),
                        F.col("_mime").alias("content_type"),
                    )
                    .write.mode("overwrite")
                    .parquet(mdir)
                )
                self.spark.catalog.refreshByPath(mdir)
                valid = valid.filter(~bad_type)
            bad_mime.unpersist()
        if "_mime" in valid.columns:
            valid = valid.drop("_mime")
        if "_pdf_bin" in valid.columns:
            valid = valid.drop("_pdf_bin")
        if "_uri" in valid.columns:
            valid = valid.drop("_uri")
        if self.extract_html:
            from sample_dms_s3_kinesis_spark.operators import text as _text

            # extraction precedes every gate; pages whose extracted
            # content is empty (pure boilerplate/markup) reject here,
            # in the same bucket as null-text rows
            _extract = (
                _text.html_main_content
                if self.extract_mode == "main"
                else _text.html_extract
            )
            valid = valid.withColumn(
                "text", _extract(F.col("text"))
            ).filter(F.col("text") != "")
        if pdf_ok is not None:
            # extracted PDF text is already prose: it joins AFTER the
            # HTML stripper, BEFORE every content gate (quality /
            # exact / near / semantic treat it like any other page)
            valid = valid.unionByName(pdf_ok, allowMissingColumns=True)
        # gate 0 (optional): quality contract — failing rows land in
        # the quarantine store (overwrite per batch: replay-idempotent
        # like the corpus directories) and count as rejected_contract.
        n_contract = 0
        if self.contract_rules:
            from sample_dms_s3_kinesis_spark.operators.quality import (
                quarantine,
            )

            valid, bad = quarantine(valid, self.contract_rules)
            bad = bad.persist()
            n_contract = bad.count()
            if n_contract > 0:
                qdir = f"{self.corpus_dir}/_quarantine/batch_id={batch_id}"
                (
                    bad.select("doc_id", "failed_rule")
                    .write.mode("overwrite")
                    .parquet(qdir)
                )
                # refresh HERE (not in the admitted-write loop): the
                # quarantine dir is overwritten even when the batch
                # admits nothing and the loop below never runs
                self.spark.catalog.refreshByPath(qdir)
            bad.unpersist()
        docs = valid.withColumn("digest", F.md5(F.col("text"))).persist()
        head = docs.agg(
            F.count(F.lit(1)).alias("n_valid")
        ).collect()[0]
        n_total = batch_df.count()
        if _robots_pages is not None:
            # docs (persisted) materialized in the head collect; the
            # cached container parse has served every consumer
            _robots_pages.unpersist()
        if head["n_valid"] == 0:
            self._record_batch(
                batch_id,
                {
                    "admitted": 0,
                    "dropped_exact": 0,
                    "dropped_near": 0,
                    "dropped_sem": 0,
                    "rejected": n_total
                    - n_contract
                    - n_robots
                    - n_sitemap
                    - n_noindex
                    - n_mime
                    - n_pdf_failed,
                    "rejected_contract": n_contract,
                    "rejected_robots": n_robots,
                    "rejected_noindex": n_noindex,
                    "rejected_mime": n_mime,
                    "rejected_pdf": n_pdf_failed,
                    "pdf_extracted": n_pdf_ok,
                    "nofollow_pages": n_nofollow,
                    "revalidated": n_reval,
                    **fr_counts,
                },
            )
            docs.unpersist()
            return

        # (1) within-batch exact dedup: min doc_id survives per digest
        survivors = (
            docs.withColumn(
                "_rk",
                F.row_number().over(
                    Window.partitionBy("digest").orderBy(F.asc("doc_id"))
                ),
            )
            .filter(F.col("_rk") == 1)
            .drop("_rk")
        )

        # (2) exact gate vs the corpus BEFORE this batch: digest
        # anti-join — the corpus side is a digest projection, bodies
        # never shuffle.  Gating on the pre-batch state makes replay
        # idempotent: a re-run of batch N cannot be suppressed by its
        # own previously landed admissions.
        corpus = self.corpus(before=batch_id)
        # persisted: n_novel, the near-gate candidate build, and the
        # admitted write would otherwise each re-run the within-batch
        # window + corpus anti-join (and, with the near gate armed,
        # the whole shingle+minhash pipeline twice)
        novel = survivors.join(
            corpus.select("digest"), on="digest", how="left_anti"
        ).persist()

        # (3) optional near-dup gate vs the corpus (banded minhash;
        # the corpus is the existing side and never self-pairs).  The
        # corpus side is served from PERSISTED signatures — this batch
        # pays shingle+minhash only for its own novel docs, and its
        # admitted docs' signatures land next to the batch parquet
        # (same overwrite idempotence) for every later batch to reuse.
        sig_new = None
        if self.near_dup:
            sig_new = _cut_lineage(self._sig_frame(novel))
            matched = (
                _minhash_pairs(
                    sig_new,
                    self.signatures(before=batch_id),
                    num_hashes=self.num_hashes,
                    bands=self.bands,
                    threshold=self.threshold,
                    # None considers every candidate (a capped run can
                    # admit a doc whose only agreeing band bucket was
                    # dropped) — same dial as near_dedup_against
                    max_band_width=self.max_band_width,
                )
                .select(F.col("new_id").alias("doc_id"))
                .distinct()
            )
            kept = novel.join(matched, on="doc_id", how="left_anti")
        else:
            kept = novel
        n_novel = novel.count()
        n_after_near = kept.count() if self.near_dup else n_novel

        # (4) optional SEMANTIC gate vs the corpus: cosine near-dup
        # against previously admitted vectors, blocked by a
        # deterministic sign-LSH key computed identically on both
        # sides (2^planes blocks bound the pair join; planes=0 makes
        # it exact).  Docs without an embedding skip this gate.
        if self.embedding_gate:
            from sample_dms_s3_kinesis_spark.operators.dedup import (
                embedding_near_dup_against,
            )
            from sample_dms_s3_kinesis_spark.operators.similarity import (
                hyperplane_signature,
            )

            def _blk(df: DataFrame) -> DataFrame:
                return df.withColumn(
                    "_eblk",
                    hyperplane_signature(
                        F.col("embedding"),
                        planes=self.embedding_planes,
                        dim=self.embedding_dim,
                    ),
                )

            with_vec = kept.filter(F.col("embedding").isNotNull())
            corpus_vec = self.corpus(before=batch_id).filter(
                F.col("embedding").isNotNull()
            )
            sem_matched = (
                embedding_near_dup_against(
                    _blk(with_vec),
                    _blk(corpus_vec),
                    vec_col="embedding",
                    id_col="doc_id",
                    block_col="_eblk",
                    threshold=self.embedding_threshold,
                    broadcast=True,  # the batch is the build side
                )
                .select(F.col("new_id").alias("doc_id"))
                .distinct()
            )
            admitted = kept.join(sem_matched, on="doc_id", how="left_anti")
        else:
            admitted = kept
        admitted = admitted.select(
            "doc_id",
            "text",
            "digest",
            "embedding",
            F.lit(batch_id).alias("batch_id"),
        ).persist()

        # Idempotent landing: the batch directory is overwritten whole,
        # so a crash-replay of this batch cannot double-append.
        n_admitted = admitted.count()
        # lang labeling AFTER the persist+count materializes the gated
        # batch (r15 second sweep #3: joining the un-persisted frame
        # re-evaluated the whole admission lineage ~3x — the router's
        # latin/other split alone references its input twice)
        lang_col = []
        write_frame = admitted
        if self.lang_id and n_admitted > 0:
            from sample_dms_s3_kinesis_spark.operators import classify

            tm, lm = classify.langid_nb_model(self.spark)
            write_frame = admitted.join(
                classify.lang_id_router(
                    admitted.select("doc_id", "text"), tm, lm
                ).select("doc_id", F.col("predicted").alias("lang")),
                "doc_id",
                "left",
            )
            lang_col = ["lang"]
        if n_admitted > 0:
            (
                write_frame.select(
                    "doc_id", "text", "digest", "embedding", *lang_col
                )
                .write.mode("overwrite")
                .parquet(f"{self.corpus_dir}/batch_id={batch_id}")
            )
            if sig_new is not None:
                self._write_sig_params()
                (
                    sig_new.join(
                        admitted.select(F.col("doc_id").alias("_id")),
                        on="_id",
                    )
                    .write.mode("overwrite")
                    .parquet(f"{self._sig_dir()}/batch_id={batch_id}")
                )
            if self.build_postings:
                # Incremental inverted index: the batch's postings land
                # in their own overwrite-idempotent directory, bucketed
                # the same way PostingsIndex.save partitions a full
                # build, so loaded queries partition-prune identically.
                from sample_dms_s3_kinesis_spark.operators.search import (
                    PostingsIndex,
                    postings as _postings,
                )

                (
                    _postings(admitted.select("doc_id", "text"))
                    .withColumn(
                        "_tb", PostingsIndex._bucket(F.col("token"))
                    )
                    .write.mode("overwrite")
                    .partitionBy("_tb")
                    .parquet(f"{self._postings_dir()}/batch_id={batch_id}")
                )
            if self.ivf_cells:
                from sample_dms_s3_kinesis_spark.operators.similarity import (
                    _deterministic_centroids,
                    ivf_assign,
                )

                with_vec = admitted.filter(
                    F.col("embedding").isNotNull()
                ).select("doc_id", "embedding")
                n_vec = with_vec.count()
                cent_dir = f"{self._ivf_dir()}/centroids"
                if (
                    not os.path.isdir(cent_dir)
                    and n_vec >= self.ivf_cells
                ):
                    # Train-once coarse quantizer: deterministic seed
                    # centroids from the FIRST batch carrying enough
                    # vectors.  A replay re-derives the identical
                    # frame, so the existence check is only an I/O
                    # saving, not a correctness gate.
                    _deterministic_centroids(
                        with_vec,
                        vec_col="embedding",
                        id_col="doc_id",
                        cells=self.ivf_cells,
                    ).write.mode("overwrite").parquet(cent_dir)
                if n_vec > 0 and os.path.isdir(cent_dir):
                    centroids = self.spark.read.parquet(cent_dir)
                    assigned = ivf_assign(
                        with_vec,
                        centroids,
                        vec_col="embedding",
                        id_col="doc_id",
                    )
                    (
                        with_vec.join(assigned, on="doc_id")
                        .select("doc_id", "embedding", "cell")
                        .write.mode("overwrite")
                        .partitionBy("cell")
                        .parquet(
                            f"{self._ivf_dir()}/assigned/batch_id={batch_id}"
                        )
                    )
            # A replay OVERWROTE directories this session may have read
            # before (new part-file names); drop the stale file-listing
            # cache entries or the next read of those paths fails with
            # FILE_NOT_EXIST.
            for p in (
                f"{self.corpus_dir}/batch_id={batch_id}",
                f"{self._sig_dir()}/batch_id={batch_id}",
                f"{self._postings_dir()}/batch_id={batch_id}",
                f"{self._ivf_dir()}/assigned/batch_id={batch_id}",
            ):
                if os.path.isdir(p):
                    self.spark.catalog.refreshByPath(p)
        self._record_batch(
            batch_id,
            {
                "admitted": n_admitted,
                # exact drops: batch-internal dups + corpus digest hits
                "dropped_exact": head["n_valid"] - n_novel,
                "dropped_near": n_novel - n_after_near,
                "dropped_sem": n_after_near - n_admitted,
                "rejected": n_total
                - head["n_valid"]
                - n_contract
                - n_robots
                - n_sitemap
                - n_noindex
                - n_mime
                - n_pdf_failed,
                "rejected_contract": n_contract,
                "rejected_robots": n_robots,
                "rejected_noindex": n_noindex,
                "rejected_mime": n_mime,
                "rejected_pdf": n_pdf_failed,
                "pdf_extracted": n_pdf_ok,
                "nofollow_pages": n_nofollow,
                "revalidated": n_reval,
                **fr_counts,
            },
        )
        admitted.unpersist()
        novel.unpersist()
        docs.unpersist()

"""Command-line interface — the reference's `poly` CLI surface
(reference: src/polygon_ingest/cli.py `bars`/`actions`; plus the
factor-builder and loader entry points that live in shell scripts
there) as one argparse program:

    python -m polygon_io_data_ingestion_pipeline_spark bars    --src G --out L --tf day
    python -m polygon_io_data_ingestion_pipeline_spark actions --tickers AAPL,MSFT --out R
    python -m polygon_io_data_ingestion_pipeline_spark adjust  --lake L --refdir R --out A
    python -m polygon_io_data_ingestion_pipeline_spark load    --lake L --adj A --tf day --out f.parquet
"""

from __future__ import annotations

import argparse
import sys

from .session import get_spark
from .sources.csv_bars import read_bar_flatfiles
from .sources.lake import read_lake, write_lake
from .sources.rest import (
    FakePolygonClient,
    pull_dividends,
    pull_security_master,
    pull_splits,
    ticker_universe,
)
from .sources.series import load_series
from .sources.watchlist import load_watchlist


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS])")


def cmd_bars(args: argparse.Namespace) -> int:
    spark = get_spark("poly-bars", master=args.master)
    watch = load_watchlist(args.watchlist) if args.watchlist else None
    bars = read_bar_flatfiles(spark, args.src, tf=args.tf, only=args.only, watchlist=watch)
    write_lake(bars, args.out, tf=args.tf)
    print(f"ingested -> {args.out}")
    return 0


def cmd_actions(args: argparse.Namespace) -> int:
    spark = get_spark("poly-actions", master=args.master)
    symbols = (
        sorted(load_watchlist(args.watchlist))
        if args.watchlist
        else [t for t in args.tickers.split(",") if t]
    )
    uni = ticker_universe(spark, symbols)
    factory = FakePolygonClient  # real Polygon client drops in here
    pull_splits(uni, client_factory=factory).write.mode("overwrite").parquet(
        f"{args.out}/stock_splits.parquet"
    )
    pull_dividends(uni, client_factory=factory).write.mode("overwrite").parquet(
        f"{args.out}/cash_dividends.parquet"
    )
    pull_security_master(uni, client_factory=factory).write.mode("overwrite").parquet(
        f"{args.out}/security_master.parquet"
    )
    print(f"refdata -> {args.out}")
    return 0


def cmd_adjust(args: argparse.Namespace) -> int:
    from .operators.factors import adjust_bars

    spark = get_spark("poly-adjust", master=args.master)
    bars = read_lake(spark, args.lake)
    sm = spark.read.parquet(f"{args.refdir}/security_master.parquet")
    splits = spark.read.parquet(f"{args.refdir}/stock_splits.parquet")
    divs = spark.read.parquet(f"{args.refdir}/cash_dividends.parquet")
    from pyspark.sql import functions as F

    adjusted = adjust_bars(bars, sm, splits, divs, materialize=args.materialize)
    # partition keys for the adjusted lake mirror the unadjusted one
    adjusted = adjusted.withColumn("year", F.year("datetime")).withColumn(
        "month", F.month("datetime")
    )
    write_lake(adjusted, args.out, tf="day")
    print(f"adjusted lake -> {args.out}")
    return 0


def cmd_load(args: argparse.Namespace) -> int:
    spark = get_spark("poly-load", master=args.master)
    tickers = args.tickers.split(",") if args.tickers else None
    df = load_series(
        spark, args.lake, args.adj, tf=args.tf, tickers=tickers, start=args.start, end=args.end
    )
    out = args.out
    # export switch by suffix (reference lake_io.py:391-401:
    # csv / feather / parquet)
    if out.endswith(".csv"):
        df.coalesce(1).write.option("header", True).mode("overwrite").csv(out)
    elif out.endswith(".feather"):
        # Feather is a single-machine analysis format; the reference
        # writes it with pandas. Arrow conversion keeps it exact.
        df.toPandas().to_feather(out)
    else:
        df.write.mode("overwrite").parquet(out)
    print(f"series -> {out}")
    return 0


def cmd_index(args: argparse.Namespace) -> int:
    """ANN index lifecycle: build a materialized IVF index from
    embeddings parquet (default), report its list-imbalance drift metric
    (``--stats``), or retrain the codebook on the index's current
    contents and rebuild (``--rebalance``, optionally gated on
    ``--rebalance-above`` so schedulers can call it unconditionally)."""
    import json as _json

    from .operators.similarity import (
        build_ivf_index,
        ivf_index_imbalance,
        rebalance_ivf_index,
    )

    spark = get_spark("poly-index", master=args.master)
    if args.stats:
        print(_json.dumps(ivf_index_imbalance(spark, args.out)))
        return 0
    if args.rebalance:
        res = rebalance_ivf_index(
            spark, args.out, rebalance_above=args.rebalance_above
        )
        print(_json.dumps(res))
        return 0
    if not args.embeddings:
        print("--embeddings is required to build an index", file=sys.stderr)
        return 2
    emb = spark.read.parquet(args.embeddings)
    build_ivf_index(emb, args.out, nlist=args.nlist, stride=args.stride)
    print(f"ivf index -> {args.out}")
    return 0


def cmd_search(args: argparse.Namespace) -> int:
    """Index-free corpus search: BM25, dense feature-hash cosine, or the
    RRF hybrid of both, over a parquet documents table — the spot-check
    tool for corpus curation (find the docs about X, pull exemplars)."""
    from .operators.search import dense_topk_feature_hash, hybrid_topk_rrf
    from .operators.text import bm25_topk

    spark = get_spark("poly-search", master=args.master)
    docs = spark.read.parquet(args.docs)
    terms = args.query.split()
    if args.mode == "bm25":
        out = bm25_topk(docs, terms, k=args.k)
    elif args.mode == "dense":
        out = dense_topk_feature_hash(docs, terms, k=args.k, dim=args.dim)
    else:
        out = hybrid_topk_rrf(docs, terms, k=args.k, dim=args.dim)
    # bounded: every search mode returns a k-row top-k frame
    for r in out.collect():
        print("\t".join(str(r[c]) for c in out.columns))
    return 0


def cmd_rollup(args: argparse.Namespace) -> int:
    """Fold a fact shard into an incrementally-maintained aggregate
    table (every mergeable cell family: count/sum/min/max, HLL
    distinct, fixed-bin histograms, bottom-k hash samples, top-m heavy
    hitters), or print the current table."""
    from .operators.rollup import (
        _latest_commit,
        cube_sets,
        histogram_quantile,
        read_rollup,
        rollup_hist_drift,
        rollup_sets,
        sample_quantile,
        update_rollup,
    )

    spark = get_spark("poly-rollup", master=args.master)
    if args.drift:
        spec = (_latest_commit(args.out) or {}).get("spec", {})
        if args.drift not in spec.get("hist_cols", {}):
            print(
                f"--drift {args.drift}: no histogram cell for {args.drift!r} "
                f"in the committed spec",
                file=sys.stderr,
            )
            return 2
        try:
            # bounded: the PSI report is one row by construction
            row = rollup_hist_drift(spark, args.out, args.drift).collect()[0]
        except ValueError as e:  # fewer than two committed versions
            print(f"--drift {args.drift}: {e}", file=sys.stderr)
            return 2
        print("\t".join(str(row[c]) for c in row.asDict()))
        return 0
    if args.show or args.quantile:
        df = read_rollup(spark, args.out)
        spec = (_latest_commit(args.out) or {}).get("spec", {})
        for qspec in args.quantile:
            col, sep, prob_s = qspec.rpartition(":")
            try:
                prob = float(prob_s)
            except ValueError:
                prob = -1.0
            if not sep or not col or not 0.0 <= prob <= 1.0:
                print(
                    f"--quantile {qspec}: expected COL:P with P in [0, 1]",
                    file=sys.stderr,
                )
                return 2
            label = f"q{prob:g}_{col}"
            if col in spec.get("hist_cols", {}):
                lo, hi, bins = spec["hist_cols"][col]
                df = df.withColumn(
                    label, histogram_quantile(f"hist_{col}", lo, hi, int(bins), prob)
                )
            elif col in spec.get("sample_cols", {}):
                df = df.withColumn(label, sample_quantile(f"smp_{col}", prob))
            else:
                print(
                    f"--quantile {qspec}: no hist or sample cell for {col!r} "
                    f"in the committed spec",
                    file=sys.stderr,
                )
                return 2
        # bounded: --show is a human spot-check; cap it (the table is
        # O(distinct keys), which at scale is not printable anyway)
        for r in df.orderBy(*args.keys.split(",")).limit(1000).collect():
            print("\t".join(str(r[c]) for c in r.asDict()))
        return 0
    if not args.src or not args.shard_id:
        print("--src and --shard-id are required to apply a shard", file=sys.stderr)
        return 2

    def _csv(v: str) -> list[str]:
        return [c for c in v.split(",") if c]

    # malformed specs get the same clean exit-code-2 validation the
    # --quantile flag does, not a bare ValueError traceback
    hist = {}
    for spec in args.hist:
        try:
            col, lo, hi, bins = spec.split(":")
            hist[col] = (float(lo), float(hi), int(bins))
        except ValueError:
            print(
                f"--hist {spec}: expected col:lo:hi:bins "
                "(e.g. value:0:400:40)",
                file=sys.stderr,
            )
            return 2
    sample = {}
    for spec in args.sample:
        try:
            col, id_col, k = spec.split(":")
            sample[col] = (id_col, int(k))
        except ValueError:
            print(
                f"--sample {spec}: expected col:id_col:k "
                "(e.g. value:event_id:256)",
                file=sys.stderr,
            )
            return 2
    topk = {}
    for spec in args.topk:
        try:
            col, m = spec.split(":")
            topk[col] = int(m)
        except ValueError:
            print(
                f"--topk {spec}: expected col:m (e.g. ticker:64)",
                file=sys.stderr,
            )
            return 2
    batch = spark.read.parquet(args.src)
    res = update_rollup(
        spark,
        args.out,
        batch,
        _csv(args.keys),
        _csv(args.sum),
        args.shard_id,
        min_cols=_csv(args.min),
        max_cols=_csv(args.max),
        distinct_cols=_csv(args.distinct),
        hist_cols=hist,
        sample_cols=sample,
        topk_cols=topk,
        grouping_sets=(
            cube_sets(_csv(args.keys)) if args.cube
            else rollup_sets(_csv(args.keys)) if args.rollup
            else None
        ),
    )
    print(res)
    return 0


#: bucket-name order for --lm-keep-buckets: bucket 1 = head (best
#: scores, lowest cross-entropy), per the CCNet tercile convention
_LM_BUCKETS = ("head", "middle", "tail")


def cmd_clftrain(args: argparse.Namespace) -> int:
    """Train the in-engine NB quality classifier on two reference
    corpora and persist it (operators/classify.py nb_train + nb_save):
    the train-once half of the model lifecycle — `corpus --clf-model`
    and the streaming crawl (`start_crawl_ingest(clf_model=)`) serve
    the saved tables without retraining.  Prints per-label token/doc
    totals and the vocabulary size as the training accounting."""
    import os

    import pyspark.sql.functions as F

    from .operators.classify import nb_save, nb_train

    spark = get_spark("poly-clftrain", master=args.master)
    good = spark.read.parquet(args.good).select(
        F.lit("good").alias("label"), F.col(args.text_col).alias("text")
    )
    bad = spark.read.parquet(args.bad).select(
        F.lit("bad").alias("label"), F.col(args.text_col).alias("text")
    )
    model = nb_train(good.unionByName(bad))
    nb_save(model, args.out)
    # read the SAVED tables for the accounting so the printed numbers
    # certify what landed on disk, not just the in-memory lineage
    # bounded: label_totals is one row per label (single digits)
    totals = {
        r["label"]: (r["n_tokens"], r["n_docs"])
        for r in spark.read.parquet(
            os.path.join(args.out, "label_totals")
        ).collect()
    }
    # bounded: stats is a single-row aggregate table
    v = spark.read.parquet(os.path.join(args.out, "stats")).collect()[0][
        "v_size"
    ]
    for lab in sorted(totals):
        n_tok, n_doc = totals[lab]
        print(f"clftrain: label={lab} docs={n_doc} tokens={n_tok}")
    print(f"clftrain: vocab={v} -> {args.out}")
    return 0


def cmd_corpus(args: argparse.Namespace) -> int:
    """Training-corpus prep, end to end: JSONL/parquet documents in ->
    PII scrub (optional) -> quality gate -> exact dedup (min-id
    representative) -> leak-proof hash split -> partitioned parquet (or
    JSONL) out, with the corpus accounting printed (read / quarantined
    / gated / unique / per-split). The same composition the
    docs_corpus_prep registry plan verifies against its SQL oracle,
    wired to real files."""
    import pyspark.sql.functions as F

    from .operators.dedup import exact_duplicates
    from .operators.sampling import hash_split
    from .operators.text import (
        STOPWORDS,
        multilingual_stopwords,
        pii_redact,
        quality_filter,
    )
    from .sources.jsonl import read_jsonl, write_jsonl

    # flag validation BEFORE any Spark work: a bad --lm-order must not
    # cost a full corpus scan before exiting 2
    if args.lm_ref and args.lm_order < 2:
        print(
            f"corpus: --lm-order must be >= 2, got {args.lm_order}",
            file=sys.stderr,
        )
        return 2
    if args.span_dedup and args.span_tokens < 2:
        print(
            f"corpus: --span-tokens must be >= 2, got {args.span_tokens}",
            file=sys.stderr,
        )
        return 2
    if args.fuzzy_dedup is not None and not 0.0 < args.fuzzy_dedup <= 1.0:
        # validate BEFORE any Spark action (the round-9 lesson)
        print(
            "corpus: --fuzzy-dedup must be a Jaccard threshold in (0, 1], "
            f"got {args.fuzzy_dedup}",
            file=sys.stderr,
        )
        return 2
    lm_buckets: list[str] = []
    if args.lm_keep_buckets is not None:
        if not args.lm_ref:
            print(
                "corpus: --lm-keep-buckets requires --lm-ref",
                file=sys.stderr,
            )
            return 2
        lm_buckets = [
            b.strip() for b in args.lm_keep_buckets.split(",") if b.strip()
        ]
        bad_names = [b for b in lm_buckets if b not in _LM_BUCKETS]
        if bad_names or not lm_buckets:
            print(
                "corpus: --lm-keep-buckets takes a comma list from "
                f"head,middle,tail; got {args.lm_keep_buckets!r}",
                file=sys.stderr,
            )
            return 2
        if args.lm_max_ce is not None:
            # one gate or the other: silently ignoring the user's
            # explicit threshold would misreport what was dropped
            print(
                "corpus: --lm-max-ce and --lm-keep-buckets are "
                "mutually exclusive",
                file=sys.stderr,
            )
            return 2
    if bool(args.clf_good) != bool(args.clf_bad):
        print(
            "corpus: --clf-good and --clf-bad must be given together",
            file=sys.stderr,
        )
        return 2
    if args.clf_model and args.clf_good:
        print(
            "corpus: --clf-model and --clf-good/--clf-bad are mutually "
            "exclusive (a saved model IS the trained references)",
            file=sys.stderr,
        )
        return 2
    if (args.min_trust is not None or args.cap_by_rank) and not args.graph:
        print(
            "corpus: --min-trust/--cap-by-rank require --graph "
            "(a webgraph output root)",
            file=sys.stderr,
        )
        return 2
    if args.cap_by_rank and not args.domain_cap:
        print(
            "corpus: --cap-by-rank requires --domain-cap",
            file=sys.stderr,
        )
        return 2

    spark = get_spark("poly-corpus", master=args.master)
    if args.input_format == "warc":
        from .operators.urls import url_dedup
        from .sources.archive import (
            decode_text_members,
            html_to_text,
            read_warc,
            warc_digest_dedup,
        )

        # persist the parsed records: the WARC decompress+parse is
        # non-splittable (one task per file) and every branch below —
        # the digest window, url_dedup's window+null split, then the
        # html/plain split — would otherwise re-walk every crawl file.
        # Digest dedup runs FIRST (before the text/* filter): it is the
        # only stage that can use revisit records — the crawl's own
        # duplicate markers, whose content_type would not survive the
        # filter — and it collapses exact duplicates before any HTML
        # parse or payload hash is paid.
        # text/* pages plus PDF and Office documents (DOCX/ODT): crawls
        # carry them, and the decode lane extracts their text
        # (quarantining encrypted/exotic ones) instead of dropping them
        # as non-text
        from .multimodal.docx import OFFICE_CONTENT_TYPES

        raw = warc_digest_dedup(read_warc(spark, args.src)).filter(
            (F.col("record_type") == "response")
            & (
                F.col("content_type").startswith("text/")
                | F.col("content_type").isin(
                    "application/pdf", *OFFICE_CONTENT_TYPES
                )
            )
        ).persist()
        # refetches of the same page (tracking params, fragments, case)
        # collapse to the earliest fetch BEFORE any text extraction —
        # the cheap dedup ahead of the expensive content dedup
        recs = url_dedup(raw, order_col="warc_date")
        if args.robots:
            # the crawl carries its own robots.txt captures: parse them
            # (distributed) and drop pages those hosts disallow — a
            # compliance audit replayed from the crawl's own evidence.
            # One capture per host FIRST (latest wins): multiple
            # captures would interleave line positions inside
            # parse_robots's per-host window and corrupt group recovery.
            from .operators.robots import (
                is_robots_url,
                latest_robots_captures,
                parse_robots,
                robots_allowed,
            )

            robots_txt = latest_robots_captures(raw)
            recs = robots_allowed(
                recs.filter(~is_robots_url(F.col("url"))),
                parse_robots(robots_txt),
            )
            n_robots_blocked = recs.filter(~F.col("crawl_allowed")).count()
            recs = recs.filter(F.col("crawl_allowed")).drop("crawl_allowed")
            print(f"robots: blocked={n_robots_blocked}")
        html = recs.filter(F.col("content_type").startswith("text/html"))
        if args.meta_robots or args.canonical_dedup:
            # page-LEVEL compliance/canonicalization (an extra parser
            # pass over the HTML lane — opt-in for that reason): robots
            # meta noindex pages drop with accounting, and pages
            # declaring rel=canonical collapse to one fetch per
            # canonical target ahead of content dedup
            from .sources.archive import extract_page_meta

            html = extract_page_meta(html).persist()
            if args.meta_robots:
                n_noindex = html.filter(F.col("meta_noindex")).count()
                html = html.filter(~F.coalesce(F.col("meta_noindex"), F.lit(False)))
                print(f"meta-robots: noindex={n_noindex}")
            if args.canonical_dedup:
                html = url_dedup(
                    html.withColumn(
                        "_canon", F.coalesce(F.col("canonical_url"), F.col("url"))
                    ),
                    url_col="_canon",
                    order_col="warc_date",
                    # _canon is the GROUP key here — the real url is the
                    # only column that varies within a canonical group,
                    # so it must carry the same-timestamp tiebreak
                    tiebreak_col="url",
                ).drop("_canon")
            html = html.drop(
                "title", "meta_description", "canonical_url", "html_lang",
                "meta_noindex", "meta_nofollow",
            )
        # non-HTML text rides the same charset-aware decode (the
        # Content-Type charset param applies to text/plain too);
        # application/pdf payloads route through the PDF text codec
        # inside that same lane (magic-sniffed)
        plain = decode_text_members(
            recs.filter(~F.col("content_type").startswith("text/html"))
        )
        # multi-consumer frame atop a NON-SPLITTABLE decompress+parse
        # (the mojibake quarantine count AND the doc pipeline both read
        # it): without this every consumer re-walks every WARC file
        parsed = (
            html_to_text(html, main_content=args.main_content)
            .unionByName(plain, allowMissingColumns=True)
            .persist()
        )
        # decode_ok=false means the declared/sniffed charset lied and
        # the text carries replacement characters — quarantine it here
        # instead of letting mojibake poison langid/quality/dedup
        # (plain-text rows have decode_ok null: pass)
        n_quarantined = parsed.filter(F.col("decode_ok") == F.lit(False)).count()
        docs = (
            parsed.filter(F.col("decode_ok").isNull() | F.col("decode_ok"))
            .select(
                F.xxhash64("url", "warc_date").alias("doc_id"),
                "text",
                "url",
                F.col("warc_file").alias("source"),
            )
            .filter(F.col("text").isNotNull())
            .persist()
        )
    elif args.input_format == "wet":
        # Common Crawl's extracted-text sidecar: conversion records are
        # already plain text, so the pipeline starts at the decode lane
        from .sources.archive import read_wet

        decoded = read_wet(spark, args.src).persist()
        n_quarantined = decoded.filter(F.col("decode_ok") == F.lit(False)).count()
        docs = (
            decoded.filter(F.col("decode_ok").isNull() | F.col("decode_ok"))
            .select(
                F.xxhash64("url", "warc_date").alias("doc_id"),
                "text",
                "url",
                F.col("warc_file").alias("source"),
            )
            .filter(F.col("text").isNotNull())
        )
    elif args.input_format in ("zip", "tar"):
        from .sources.archive import (
            decode_text_members,
            read_tar_members,
            read_zip_members,
        )

        reader = read_zip_members if args.input_format == "zip" else read_tar_members
        # charset-aware decode (BOM/meta sniff), same mojibake
        # quarantine as the WARC path — a blind cast("string") fed
        # non-UTF-8 members into the gate as replacement-char soup
        decoded = decode_text_members(
            reader(spark, args.src, suffix=args.zip_suffix)
        ).persist()
        n_quarantined = decoded.filter(F.col("decode_ok") == F.lit(False)).count()
        docs = decoded.filter(
            F.col("decode_ok").isNull() | F.col("decode_ok")
        ).select(
            F.xxhash64("archive", "member").alias("doc_id"),
            F.col("text"),
            F.col("member").alias("url"),
            F.col("archive").alias("source"),
        )
    elif args.src.endswith(".parquet") or args.input_format == "parquet":
        docs = spark.read.parquet(args.src)
        n_quarantined = 0
    else:
        docs, bad = read_jsonl(spark, args.src)
        n_quarantined = bad.count()
    n_read = docs.count()

    if args.redact_pii:
        from .operators.text import PII_RULES

        red = pii_redact(docs, text_col="text")
        audit_cols = [f"n_{name}" for name, _, _ in PII_RULES] + ["n_redactions"]
        docs = red.drop("text", *audit_cols).withColumnRenamed("redacted", "text")

    # crawl lanes are multilingual INCLUDING unsegmented scripts: token
    # stages route CJK/Thai docs through character n-grams ('auto'),
    # while JSONL/parquet corpora keep the word tokenizer to match the
    # committed oracles (docs_corpus_prep, docs_span_dedup)
    crawl_tokenizer = (
        "auto" if args.input_format in ("warc", "wet") else "word"
    )

    if args.line_dedup:
        # CCNet-stage ordering: strip cross-document boilerplate lines
        # BEFORE the quality gate, so the gate judges the content that
        # will actually ship (a page that is mostly shared chrome should
        # fail on its remaining text, not pass on the chrome's volume)
        from .operators.dedup import duplicated_line_removal

        docs = duplicated_line_removal(
            docs, min_docs=args.line_dedup_min_docs
        )

    if args.span_dedup:
        # same CCNet-stage ordering as line dedup, one granularity
        # finer: licence/template sentences embedded mid-paragraph
        # (invisible to line dedup because they don't align with line
        # breaks) are removed before the gate judges the remainder
        from .operators.dedup import duplicated_span_removal

        docs = duplicated_span_removal(
            docs,
            span_tokens=args.span_tokens,
            min_docs=args.line_dedup_min_docs,
            tokenizer=crawl_tokenizer,
        )

    passthrough = tuple(c for c in docs.columns if c != "doc_id")
    # crawls are multilingual: the English-only stopword signal would
    # reject clean foreign-language pages as gibberish (JSONL/parquet
    # corpora keep the default to match the docs_corpus_prep oracle)
    gate_words = (
        multilingual_stopwords()
        if args.input_format in ("warc", "wet")
        else STOPWORDS
    )
    unseg_markers: tuple = ()
    if args.input_format in ("warc", "wet"):
        from .functions.script_families import UNSEGMENTED_FUNCTION_MARKERS

        unseg_markers = UNSEGMENTED_FUNCTION_MARKERS
    gated = quality_filter(
        docs,
        keep_cols=passthrough,
        stopwords=gate_words,
        unsegmented_markers=unseg_markers,
    )
    # Multi-consumer frame (the dedup-representatives branch AND the
    # semi-join back) atop the full parse+scrub+gate lineage — persist
    # it or the whole corpus re-reads once per consumer, exactly the
    # cost the registry twin docs_corpus_prep pins with its .persist().
    kept = gated.filter(F.col("keep")).select("doc_id", *passthrough).persist()

    if args.lm_ref:
        # CCNet's LM stage, after the heuristic gate: score survivors
        # under a bigram model trained on the clean reference corpus and
        # drop high-cross-entropy (reference-unlike) pages.  Unscorable
        # docs (< 2 tokens, already past the gate) keep — the LM cannot
        # judge them.  kept is ALREADY persisted above (the scoring pass
        # must not re-run the parse/scrub/dedup/gate lineage), and the
        # tiny scores frame (id, n, ce) persists so the accounting count
        # and the anti-join don't re-run the model joins.
        ref = spark.read.parquet(args.lm_ref)
        if args.lm_order >= 3:
            # order-n stupid backoff (web-scale smoothing); score is
            # avg negative log backoff score — same scale family as the
            # bigram cross-entropy, one threshold flag serves both
            from .operators.ngram_lm import (
                ngram_lm_train_counts,
                stupid_backoff_score,
            )

            model = ngram_lm_train_counts(
                ref, order=args.lm_order, tokenizer=crawl_tokenizer
            )
            scores = (
                stupid_backoff_score(kept, model, tokenizer=crawl_tokenizer)
                .withColumnRenamed("avg_neg_logscore", "cross_entropy")
                .persist()
            )
        else:
            from .operators.ngram_lm import (
                ngram_lm_cross_entropy,
                ngram_lm_train,
            )

            model = ngram_lm_train(ref, tokenizer=crawl_tokenizer)
            scores = ngram_lm_cross_entropy(
                kept, model, tokenizer=crawl_tokenizer
            ).persist()
        if lm_buckets:
            # CCNet's actual gate shape: keep per-LANGUAGE score
            # terciles, not one absolute threshold — a fixed max_ce
            # over-drops languages the reference covers thinly.  Docs
            # bucket within their own language's distribution (global
            # when the corpus carries no lang column); unscorable docs
            # (NULL bucket) keep, same as the threshold path.
            from .operators.sampling import score_quantile_buckets

            by = "lang" if "lang" in kept.columns else None
            frame = (
                scores.join(kept.select("doc_id", "lang"), "doc_id")
                if by
                else scores
            )
            keep_ids = [
                i + 1 for i, nm in enumerate(_LM_BUCKETS) if nm in lm_buckets
            ]
            # persist the dropped-ids frame: the accounting count and
            # the anti-join would otherwise each re-run the lang join +
            # histogram shuffle + window + join-back over the corpus
            bad = (
                score_quantile_buckets(frame, "cross_entropy", by_col=by, k=3)
                .filter(
                    F.col("bucket").isNotNull()
                    & ~F.col("bucket").isin(keep_ids)
                )
                .select("doc_id")
                .persist()
            )
            n_lm_dropped = bad.count()
            kept = kept.join(bad.select("doc_id"), "doc_id", "left_anti")
            print(
                f"lm-gate: dropped={n_lm_dropped} "
                f"keep_buckets={','.join(lm_buckets)} order={args.lm_order}"
            )
        else:
            max_ce = args.lm_max_ce if args.lm_max_ce is not None else 8.0
            bad = scores.filter(
                F.col("cross_entropy").isNotNull()
                & (F.col("cross_entropy") > max_ce)
            )
            n_lm_dropped = bad.count()
            kept = kept.join(bad.select("doc_id"), "doc_id", "left_anti")
            print(
                f"lm-gate: dropped={n_lm_dropped} max_ce={max_ce} "
                f"order={args.lm_order}"
            )

    if args.clf_good or args.clf_model:
        # the model-based quality filter (GPT-3/CCNet-style): a Naive
        # Bayes classifier trains in-engine on the two references (or
        # loads a model the clftrain command saved) and every surviving
        # doc is kept only when its good-vs-bad log-odds clears the
        # margin.  Unscorable docs (no tokens — already past the
        # heuristic gate) keep: the classifier cannot judge them,
        # symmetric with the LM gate.  The tiny scores frame persists
        # so the accounting count and the anti-join don't re-run the
        # model joins.
        from .operators.classify import (
            nb_load,
            nb_log_odds,
            nb_require_labels,
            nb_train,
        )

        if args.clf_model:
            model = nb_load(spark, args.clf_model)
            # a model saved with other labels would NULL every score
            # and the NULL-keeps contract would keep everything with
            # dropped=0 — fail loudly at setup instead
            nb_require_labels(model, ("good", "bad"))
        else:
            good = spark.read.parquet(args.clf_good).select(
                F.lit("good").alias("label"),
                F.col(args.clf_text_col).alias("text"),
            )
            badref = spark.read.parquet(args.clf_bad).select(
                F.lit("bad").alias("label"),
                F.col(args.clf_text_col).alias("text"),
            )
            model = nb_train(good.unionByName(badref))
        odds = nb_log_odds(kept, model, "good", "bad").persist()
        bad = odds.filter(
            F.col("log_odds").isNotNull()
            & (F.col("log_odds") < args.clf_margin)
        )
        n_clf_dropped = bad.count()
        kept = kept.join(bad.select("doc_id"), "doc_id", "left_anti")
        print(
            f"clf-gate: dropped={n_clf_dropped} margin={args.clf_margin}"
        )

    if args.graph and args.min_trust is not None:
        # graph -> selection: the quality half of the crawl loop.  The
        # webgraph command's trust/ table (TrustRank from vetted seeds)
        # joins back onto the corpus by normalized URL; crawl pages
        # below the floor — including pages ABSENT from the table,
        # which under TrustRank semantics are exactly "unreachable from
        # any vetted seed" — drop with accounting.  Non-crawl rows
        # (NULL url) are not trust-scorable and keep.
        import os as _os

        from .operators.urls import join_graph_signals

        if "url" not in kept.columns:
            print("corpus: --min-trust requires a url column", file=sys.stderr)
            return 2
        trust = spark.read.parquet(_os.path.join(args.graph, "trust")).select(
            "node", "trust"
        )
        scored = join_graph_signals(kept, trust)
        bad = scored.filter(
            F.col("url").isNotNull() & (F.col("trust") < args.min_trust)
        )
        n_trust_dropped = bad.count()
        kept = scored.filter(
            F.col("url").isNull() | (F.col("trust") >= args.min_trust)
        ).drop("trust")
        print(
            f"trust-gate: dropped={n_trust_dropped} min_trust={args.min_trust}"
        )

    dedup_form = "NFC" if args.nfc else None
    reps = exact_duplicates(
        kept.select("doc_id", "text"),
        normalized=args.normalized_dedup,
        normalize_form=dedup_form,
    ).select(
        F.col("canonical_id").alias("doc_id")
    )
    unique = kept.join(reps, "doc_id", "left_semi")

    if args.fuzzy_dedup is not None:
        # the CCNet/Gopher fuzzy stage after exact dedup: banded-LSH
        # candidates, exact Jaccard verify on candidates only, then
        # transitive closure — edited re-posts collapse to the min-id
        # representative.  Crawl lanes pass tokenizer='auto' so CJK
        # near-dups are visible (one whitespace token otherwise)
        from .operators.dedup import duplicate_clusters, lsh_verified_pairs

        near_pairs = lsh_verified_pairs(
            unique.select("doc_id", "text"),
            threshold=args.fuzzy_dedup,
            tokenizer=args.shingle_tokenizer or crawl_tokenizer,
            normalize_form=dedup_form,
        )
        clusters = duplicate_clusters(near_pairs)
        dupes = clusters.filter(
            F.col("doc_id") != F.col("cluster_id")
        ).select("doc_id")
        n_fuzzy = dupes.count()
        unique = unique.join(dupes, "doc_id", "left_anti")
        print(
            f"fuzzy-dedup: dropped={n_fuzzy} "
            f"threshold={args.fuzzy_dedup}"
        )

    if args.domain_cap:
        # Zipfian skew control after dedup, before the split: at most N
        # docs per registrable domain (PSL eTLD+1 when a url column
        # exists; bare-host/unparseable fall back to the host, non-crawl
        # corpora to their source label)
        from .operators.sampling import group_capped_sample

        # build the grouping from whatever the lane carries: PSL eTLD+1
        # of url (parquet/WARC lanes), then the source label, then a
        # constant (pure-text parquet with neither column: the cap
        # degrades to a global cap rather than crashing on an
        # unresolvable column)
        parts = []
        if "url" in unique.columns:
            from .functions.psl import registrable_domain

            host = F.lower(F.try_parse_url(F.col("url"), F.lit("HOST")))
            parts += [registrable_domain(host), host]
        if "source" in unique.columns:
            parts.append(F.col("source"))
        dom = F.coalesce(*parts, F.lit("__all__"))
        if args.cap_by_rank and "url" not in unique.columns:
            print(
                "corpus: --cap-by-rank requires a url column to join "
                "pagerank on",
                file=sys.stderr,
            )
            return 2
        if args.cap_by_rank:
            # centrality-weighted cap: each domain keeps its HIGHEST-
            # pagerank pages (webgraph pagerank/ joined by normalized
            # URL) instead of a hash-random subset — the second half of
            # the graph -> selection loop
            import os as _os

            from .operators.urls import join_graph_signals

            rank = spark.read.parquet(
                _os.path.join(args.graph, "pagerank")
            ).select("node", "rank")
            unique = join_graph_signals(unique, rank, value_cols=("rank",))
            unique = group_capped_sample(
                unique.withColumn("_dom", dom),
                cap=args.domain_cap,
                group_col="_dom",
                order_col="rank",
            ).drop("_dom", "rank")
        else:
            unique = group_capped_sample(
                unique.withColumn("_dom", dom), cap=args.domain_cap, group_col="_dom"
            ).drop("_dom")

    out = hash_split(unique).persist()
    n_unique = out.count()
    split_counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}

    if args.format == "jsonl":
        write_jsonl(out, args.out, target_partitions=args.partitions)
    else:
        out.write.mode("overwrite").partitionBy("split").parquet(args.out)
    print(
        f"corpus -> {args.out}: read={n_read} quarantined={n_quarantined} "
        f"unique_kept={n_unique} splits={split_counts}"
    )
    return 0


def cmd_webgraph(args: argparse.Namespace) -> int:
    """Crawl outlink edges -> the web-graph analytics tables: directed
    PageRank (endorsement centrality with dangling-node mass),
    large-star/small-star connected components (site/mirror clusters),
    and the inbound anchor-text index — one read of the batch-keyed
    edge tables the streaming crawl emits, three parquet outputs."""
    import os as _os

    from pyspark.sql import functions as F

    from .operators.graph import connected_components_star, pagerank_directed
    from .operators.urls import anchor_text_index, url_normalized

    if args.warm_start and args.pagerank_tol is None:
        # a fixed 2-round unroll APPLIED TO the previous run's output is
        # neither the documented unroll nor the fixpoint — the tables
        # would depend on how many runs preceded them.  Warm starts are
        # only well-defined in run-to-fixpoint mode.
        print(
            "webgraph: --warm-start requires --pagerank-tol "
            "(warm-started ranks are only well-defined run-to-fixpoint)",
            file=sys.stderr,
        )
        return 2
    spark = get_spark("poly-webgraph", master=args.master)
    raw = spark.read.parquet(args.edges)
    # ONE key space for all three outputs: normalize src/dst up front
    # (raw string kept for unparseables) so anchors/ joins against
    # pagerank/ and components/, and alias spellings ("/p" vs "/p/")
    # don't split rank across nodes the anchor index merges
    norm = lambda c: F.coalesce(url_normalized(F.col(c)), F.col(c))  # noqa: E731
    edges = raw.withColumn("src", norm("src")).withColumn("dst", norm("dst"))
    # endorsement outputs (pagerank, components) exclude nofollow edges
    # and count DISTINCT endorsement (batch-keyed crawl tables re-emit a
    # page's links per batch; nav+footer duplicate (src,dst) pairs —
    # multiplicity must not weight rank).  The deduped frame feeds two
    # branches — persist or each re-reads the edge tables.
    followed = edges
    if "nofollow" in edges.columns:
        followed = edges.filter(~F.coalesce(F.col("nofollow"), F.lit(False)))
    # self-loops fabricated by normalization (a page permalinking its
    # own alias spelling) are not endorsement — pagerank would feed a
    # node's rank back to itself every iteration (components drops
    # them internally already)
    followed = (
        followed.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    # incremental maintenance: --warm-start seeds this run from the
    # PREVIOUS run's output tables (pagerank/trust fixpoints are
    # unique, so warm ranks converge in fewer rounds on a grown graph;
    # prior component labels enter star contraction pre-contracted).
    # Previous tables must be MATERIALIZED (eager localCheckpoint)
    # before the overwrite below deletes the files a lazy scan would
    # still need.
    prev_pr = prev_cc = prev_tr = None
    if args.warm_start:
        def _prev(table: str, cols: tuple[str, ...]):
            path = _os.path.join(args.out, table)
            try:
                return (
                    spark.read.parquet(path)
                    .select(*cols)
                    .localCheckpoint(eager=True)
                )
            except Exception:
                return None  # first run: nothing to warm from

        prev_pr = _prev("pagerank", ("node", "rank"))
        prev_cc = _prev("components", ("node", "component_id"))
        # trust only warms when this run will actually recompute it —
        # otherwise the read is wasted AND a previous run's trust/ would
        # silently sit stale next to refreshed pagerank/components
        prev_tr = _prev("trust", ("node", "trust")) if args.trust_seeds else None
    if not args.trust_seeds and _os.path.isdir(_os.path.join(args.out, "trust")):
        print(
            "webgraph: WARNING trust/ under --out is from a previous run "
            "(no --trust-seeds this run) and is now stale",
            file=sys.stderr,
        )
    pr = pagerank_directed(
        followed,
        iters=args.pagerank_iters,
        damping=args.pagerank_damping,
        tol=args.pagerank_tol,
        init_ranks=prev_pr,
    )
    pr.write.mode("overwrite").parquet(_os.path.join(args.out, "pagerank"))
    cc = connected_components_star(
        followed, id_col="node", prior_labels=prev_cc
    )
    cc.write.mode("overwrite").parquet(_os.path.join(args.out, "components"))
    # summary counts read the just-written parquet — counting the
    # DataFrames would re-run the whole iteration DAGs a second time
    n_nodes = spark.read.parquet(_os.path.join(args.out, "pagerank")).count()
    n_comps = (
        spark.read.parquet(_os.path.join(args.out, "components"))
        .select("component_id")
        .distinct()
        .count()
    )
    summary = f"webgraph -> {args.out}: nodes={n_nodes} components={n_comps}"
    if args.trust_seeds:
        # TrustRank: teleport restricted to the vetted seed list —
        # pages unreachable from any seed get zero trust however
        # densely a spam farm interlinks
        from .operators.graph import personalized_pagerank

        # seeds arrive in crawl spellings — normalize into the SAME key
        # space as the graph or canonical-variant seeds silently match
        # nothing and trust collapses to all zeros
        seeds = spark.read.parquet(args.trust_seeds).select(
            F.coalesce(url_normalized(F.col("node")), F.col("node")).alias("node")
        )
        tr = personalized_pagerank(
            followed,
            seeds,
            iters=args.pagerank_iters,
            damping=args.pagerank_damping,
            tol=args.pagerank_tol,
            init_ranks=prev_tr,
        )
        tr.write.mode("overwrite").parquet(_os.path.join(args.out, "trust"))
        n_trusted = (
            spark.read.parquet(_os.path.join(args.out, "trust"))
            .filter(F.col("trust") > 0)
            .count()
        )
        summary += f" trusted={n_trusted}"
    if "anchor" in edges.columns:
        # dst is already in the normalized key space — re-normalizing
        # (~6 try_parse_url calls per row) would be a wasted second pass
        # over the largest table in the job
        ai = anchor_text_index(
            edges, max_anchors=args.max_anchors, normalize=False
        )
        ai.write.mode("overwrite").parquet(_os.path.join(args.out, "anchors"))
        n_targets = spark.read.parquet(_os.path.join(args.out, "anchors")).count()
        summary += f" anchor_targets={n_targets}"
    followed.unpersist()
    print(summary)
    return 0


def _mediadedup(
    args: argparse.Namespace,
    name: str,
    ctype_prefix: str,
    sig_fn,
    hash_col: str,
    unit: str,
) -> int:
    """Shared shape of the perceptual media-dedup commands: decode +
    fingerprint every payload once, banded-hamming candidate pairs
    (NEVER all-pairs), connected-component duplicate clusters, and the
    keep/drop accounting.  ``sig_fn(df, id_col=, payload_col=)`` is the
    modality's fingerprint lane (image_hashes / audio_fingerprints);
    the WARC branch ingests ``ctype_prefix`` responses of a crawl
    directly."""
    import os as _os

    from pyspark.sql import functions as F

    from .operators.dedup import duplicate_clusters, hamming_pairs

    if args.max_hamming < 0:
        print(
            f"{name}: --max-hamming must be >= 0, got {args.max_hamming}",
            file=sys.stderr,
        )
        return 2

    if args.input_format == "warc" and (
        args.id_col != "media_id" or args.payload_col != "payload"
    ):
        print(
            f"{name}: --id-col/--payload-col cannot be combined with "
            "--input-format warc (the crawl lane keys media_id/payload)",
            file=sys.stderr,
        )
        return 2
    spark = get_spark(f"poly-{name}", master=args.master)
    if args.input_format == "warc":
        # crawl -> media dedup directly: the modality's responses from
        # the WARC files (digest dedup first — the crawler's own
        # duplicate markers are free), keyed like the text lane; a
        # media_id->url mapping lands beside the outputs so
        # pairs/clusters resolve back to pages
        from .sources.archive import read_warc, warc_digest_dedup

        id_col, payload_col = "media_id", "payload"
        args.id_col, args.payload_col = id_col, payload_col
        recs = warc_digest_dedup(read_warc(spark, args.src)).filter(
            (F.col("record_type") == "response")
            & F.col("content_type").startswith(ctype_prefix)
        )
        # persist: the mapping write below AND the hash pass both
        # consume this frame, and its lineage is the full non-splittable
        # gunzip+WARC walk — without the persist the crawl parses twice
        # (the exact defect the streaming schedule fix removed)
        media = recs.select(
            F.xxhash64("url", "warc_date").alias(id_col),
            "url",
            payload_col,
        ).persist()
        media.select(id_col, "url").write.mode("overwrite").parquet(
            _os.path.join(args.out, "media")
        )
    else:
        media = spark.read.parquet(args.src)
    sig = sig_fn(
        media, id_col=args.id_col, payload_col=args.payload_col
    ).persist()
    n_total = sig.count()
    decoded = sig.filter(F.col("decode_ok"))
    n_decoded = decoded.count()
    pairs = hamming_pairs(
        decoded,
        hash_col,
        id_col=args.id_col,
        bits=64,
        max_hamming=args.max_hamming,
    )
    pairs.write.mode("overwrite").parquet(_os.path.join(args.out, "pairs"))
    pairs_back = spark.read.parquet(_os.path.join(args.out, "pairs"))
    clusters = duplicate_clusters(
        pairs_back, all_ids=decoded.select(args.id_col), id_col=args.id_col
    )
    clusters.write.mode("overwrite").parquet(_os.path.join(args.out, "clusters"))
    cl = spark.read.parquet(_os.path.join(args.out, "clusters"))
    n_pairs = pairs_back.count()
    n_clusters = cl.select("cluster_id").distinct().count()
    n_drop = cl.filter(F.col(args.id_col) != F.col("cluster_id")).count()
    sig.unpersist()
    if args.input_format == "warc":
        media.unpersist()
    print(
        f"{name} -> {args.out}: {unit}={n_total} decoded={n_decoded} "
        f"quarantined={n_total - n_decoded} pairs={n_pairs} "
        f"clusters={n_clusters} duplicates_to_drop={n_drop}"
    )
    return 0


def cmd_imagededup(args: argparse.Namespace) -> int:
    """Image near-duplicate detection over a media parquet table:
    decode + perceptual-hash every payload once (dHash and pHash,
    multimodal/phash.py) through the shared media-dedup shape
    (:func:`_mediadedup`)."""
    from .multimodal.phash import image_hashes

    return _mediadedup(
        args, "imagededup", "image/", image_hashes, args.hash, "images"
    )


def cmd_audiodedup(args: argparse.Namespace) -> int:
    """Audio near-duplicate detection over a media parquet table: the
    audio twin of imagededup (multimodal/afp.py — WAV/FLAC/ADPCM
    through the real codec lane) via the shared media-dedup shape."""
    from .multimodal.afp import audio_fingerprints

    return _mediadedup(
        args, "audiodedup", "audio/", audio_fingerprints, "afp", "clips"
    )


def cmd_videodedup(args: argparse.Namespace) -> int:
    """Video near-duplicate detection over a media parquet table
    (multimodal/vhash.py): container frame sampling -> per-frame dHash
    through the image lane -> JVM majority clip signature ->
    banded-hamming pairs -> duplicate clusters with accounting.  Clips
    whose every frame quarantined (corrupt, inter-frame codecs) have no
    signature and count as quarantined."""
    import os as _os

    from pyspark.sql import functions as F

    from .multimodal.binaryops import frame_sample_video
    from .multimodal.vhash import video_signatures
    from .operators.dedup import duplicate_clusters, hamming_pairs

    if args.max_hamming < 0:
        print(
            f"videodedup: --max-hamming must be >= 0, got {args.max_hamming}",
            file=sys.stderr,
        )
        return 2
    spark = get_spark("poly-videodedup", master=args.master)
    media = spark.read.parquet(args.src)
    missing = [c for c in (args.id_col, args.payload_col) if c not in media.columns]
    if missing:
        # withColumnRenamed on an absent column is a silent no-op in
        # Spark — a typo would otherwise surface as a KeyError deep in
        # a Python worker after the count scan already ran
        print(
            f"videodedup: column(s) {missing} not in {args.src} "
            f"(has: {media.columns})",
            file=sys.stderr,
        )
        return 2
    if args.id_col != "media_id":
        media = media.withColumnRenamed(args.id_col, "media_id")
    if args.payload_col != "payload":
        media = media.withColumnRenamed(args.payload_col, "payload")
    if "meta" not in media.columns:
        # the frame sampler's stub lane reads meta.duration_ms; plain
        # media tables may not carry it
        media = media.withColumn(
            "meta",
            F.lit(None).cast("struct<duration_ms: bigint>"),
        )
    n_total = media.count()
    sig = video_signatures(
        frame_sample_video(media, every_ms=args.every_ms)
    ).persist()
    n_sig = sig.count()
    pairs = hamming_pairs(
        sig, "vhash", id_col="media_id", bits=64, max_hamming=args.max_hamming
    )
    pairs.write.mode("overwrite").parquet(_os.path.join(args.out, "pairs"))
    pairs_back = spark.read.parquet(_os.path.join(args.out, "pairs"))
    clusters = duplicate_clusters(
        pairs_back, all_ids=sig.select("media_id"), id_col="media_id"
    )
    clusters.write.mode("overwrite").parquet(_os.path.join(args.out, "clusters"))
    cl = spark.read.parquet(_os.path.join(args.out, "clusters"))
    n_pairs = pairs_back.count()
    n_clusters = cl.select("cluster_id").distinct().count()
    n_drop = cl.filter(F.col("media_id") != F.col("cluster_id")).count()
    sig.unpersist()
    print(
        f"videodedup -> {args.out}: clips={n_total} fingerprinted={n_sig} "
        f"quarantined={n_total - n_sig} pairs={n_pairs} "
        f"clusters={n_clusters} duplicates_to_drop={n_drop}"
    )
    return 0


def cmd_sheetcells(args: argparse.Namespace) -> int:
    """Structured spreadsheet extraction (multimodal/sheet.py): XLSX/
    ODS payloads -> typed (sheet, row, col, value_type, value_string,
    value_num) cell rows in one decode pass, with honest accounting for
    quarantined workbooks and skipped formula/error cells (a formula's
    cached value is the producing app's claim, not document content)."""
    import os as _os

    from pyspark.sql import functions as F

    from .multimodal.sheet import sheet_cells

    if args.input_format == "warc" and (
        args.id_col != "media_id" or args.payload_col != "payload"
    ):
        print(
            "sheetcells: --id-col/--payload-col cannot be combined with "
            "--input-format warc (the crawl lane keys media_id/payload)",
            file=sys.stderr,
        )
        return 2
    spark = get_spark("poly-sheetcells", master=args.master)
    if args.input_format == "warc":
        # crawl -> cell extraction directly: candidate responses from
        # the WARC files (digest dedup first), prefiltered by the NATIVE
        # zip-magic test — servers label workbooks application/
        # octet-stream constantly, so content-type cannot be the filter;
        # the AUTHORITATIVE sniff (xl/workbook.xml member / ODF
        # spreadsheet mimetype) happens inside sheet_cells' one decode
        # pass, where plain zips and prose Office documents quarantine
        # as marker rows (they show in the 'quarantined' accounting)
        from .sources.archive import read_warc, warc_digest_dedup

        recs = warc_digest_dedup(read_warc(spark, args.src)).filter(
            (F.col("record_type") == "response")
            & (F.expr("substring(payload, 1, 4)") == F.lit(b"PK\x03\x04"))
        )
        media = recs.select(
            F.xxhash64("url", "warc_date").alias("media_id"),
            "url",
            "payload",
        ).persist()
        media.select("media_id", "url").write.mode("overwrite").parquet(
            _os.path.join(args.out, "media")
        )
    else:
        media = spark.read.parquet(args.src)
    out = sheet_cells(
        media, id_col=args.id_col, payload_col=args.payload_col
    ).persist()
    cells = out.filter(F.col("sheet").isNotNull())
    cells.write.mode("overwrite").parquet(_os.path.join(args.out, "cells"))
    # per-workbook accounting: the skip counts repeat on every cell row
    # (one decode pass), so reduce per id first, then sum
    per_book = out.groupBy(args.id_col).agg(
        F.max(F.col("decode_ok").cast("int")).alias("ok"),
        F.max("skipped_formula").alias("nf"),
        F.max("skipped_error").alias("ne"),
    )
    # bounded: one row of global accounting sums
    tot = per_book.agg(
        F.count("*").alias("books"),
        F.sum("ok").alias("decoded"),
        F.sum("nf").alias("skipped_formula"),
        F.sum("ne").alias("skipped_error"),
    ).collect()[0]
    n_cells = spark.read.parquet(_os.path.join(args.out, "cells")).count()
    out.unpersist()
    if args.input_format == "warc":
        media.unpersist()
    print(
        f"sheetcells -> {args.out}: workbooks={tot['books']} "
        f"decoded={tot['decoded']} "
        f"quarantined={tot['books'] - tot['decoded']} cells={n_cells} "
        f"skipped_formula={tot['skipped_formula']} "
        f"skipped_error={tot['skipped_error']}"
    )
    return 0


def cmd_datasheet(args: argparse.Namespace) -> int:
    """Corpus report card: documents in (JSONL or parquet) ->
    long-format (metric, value) datasheet printed and optionally
    written as CSV — the publish/diff/gate artifact of a corpus
    release (see operators/datasheet.py)."""
    from .operators.datasheet import corpus_datasheet
    from .sources.jsonl import read_jsonl

    spark = get_spark("poly-datasheet", master=args.master)
    if args.src.endswith(".parquet") or args.input_format == "parquet":
        docs = spark.read.parquet(args.src)
    else:
        docs, _bad = read_jsonl(spark, args.src)
    sheet = corpus_datasheet(docs).orderBy("metric")
    rows = sheet.collect()  # bounded: datasheet is O(#metrics) rows
    for r in rows:
        print(f"{r['metric']}\t{r['value']}")
    if args.out:
        sheet.coalesce(1).write.mode("overwrite").option("header", True).csv(args.out)
    return 0


def cmd_lake(args: argparse.Namespace) -> int:
    """Lake maintenance: small-file compaction, takedown deletion, and
    keyed upsert (MERGE) — the operational verbs a long-lived
    partitioned store needs, each rewriting only the partitions it
    touches."""
    spark = get_spark("poly-lake", master=args.master)
    if args.op == "compact":
        from .sources.lake import compact_lake

        stats = compact_lake(spark, args.path, tf=args.tf)
        print(f"compacted {stats['partitions_compacted']} partitions "
              f"({stats['files_before']} files before)")
    elif args.op == "delete":
        from .sources.lake import delete_from_lake

        keys = spark.read.parquet(args.keys)
        n = delete_from_lake(spark, args.path, keys, args.key_col)
        print(f"deleted {n} rows")
    else:  # merge
        from .sources.lake import merge_into_lake

        updates = spark.read.parquet(args.updates)
        stats = merge_into_lake(spark, args.path, updates, args.key_col)
        print(f"updated {stats['rows_updated']} inserted {stats['rows_inserted']}")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="polygon-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("bars", help="flat files -> unadjusted lake")
    p.add_argument("--src", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--tf", choices=["day", "minute"], default="day")
    p.add_argument("--only", default=None)
    p.add_argument("--watchlist", default=None)
    _add_common(p)
    p.set_defaults(fn=cmd_bars)

    p = sub.add_parser("actions", help="pull splits/dividends/security master")
    p.add_argument("--tickers", default="")
    p.add_argument("--watchlist", default=None)
    p.add_argument("--out", required=True)
    _add_common(p)
    p.set_defaults(fn=cmd_actions)

    p = sub.add_parser("adjust", help="unadjusted lake + refdata -> adjusted lake")
    p.add_argument("--lake", required=True)
    p.add_argument("--refdir", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--materialize", choices=["minimal", "close", "ohlc"], default="ohlc")
    _add_common(p)
    p.set_defaults(fn=cmd_adjust)

    p = sub.add_parser("load", help="unadjusted x adjusted analysis series")
    p.add_argument("--lake", required=True)
    p.add_argument("--adj", required=True)
    p.add_argument("--tf", choices=["day", "minute"], default="day")
    p.add_argument("--tickers", default=None)
    p.add_argument("--start", default=None)
    p.add_argument("--end", default=None)
    p.add_argument("--out", required=True)
    _add_common(p)
    p.set_defaults(fn=cmd_load)

    p = sub.add_parser("index", help="IVF ANN index: build / --stats / --rebalance")
    p.add_argument("--embeddings", default=None)
    p.add_argument("--out", required=True)
    p.add_argument("--nlist", type=int, default=16)
    p.add_argument("--stride", type=int, default=31)
    p.add_argument("--stats", action="store_true", help="print imbalance metrics for --out")
    p.add_argument("--rebalance", action="store_true", help="retrain codebook + rebuild --out")
    p.add_argument(
        "--rebalance-above",
        type=float,
        default=None,
        help="with --rebalance: skip the rebuild if imbalance <= this factor",
    )
    _add_common(p)
    p.set_defaults(fn=cmd_index)

    p = sub.add_parser("rollup", help="fold fact shards into an incremental aggregate table")
    p.add_argument("--out", required=True, help="rollup table root")
    p.add_argument("--src", default=None, help="fact shard parquet to apply")
    p.add_argument("--keys", required=True, help="comma-separated key columns")
    p.add_argument("--sum", default="", help="comma-separated columns to sum")
    p.add_argument("--min", default="", help="comma-separated columns to min")
    p.add_argument("--max", default="", help="comma-separated columns to max")
    p.add_argument(
        "--distinct", default="", help="comma-separated columns for HLL distinct cells"
    )
    p.add_argument(
        "--hist",
        action="append",
        default=[],
        metavar="COL:LO:HI:BINS",
        help="fixed-bin histogram cell (repeatable)",
    )
    p.add_argument(
        "--sample",
        action="append",
        default=[],
        metavar="COL:ID_COL:K",
        help="bottom-k hash-sample cell; ID_COL must be row-unique (repeatable)",
    )
    p.add_argument(
        "--cube",
        action="store_true",
        help="maintain every subtotal level of --keys (GROUP BY CUBE; "
        "rows tagged _gid)",
    )
    p.add_argument(
        "--rollup",
        action="store_true",
        help="maintain the key-prefix subtotal levels (GROUP BY ROLLUP)",
    )
    p.add_argument(
        "--topk",
        action="append",
        default=[],
        metavar="COL:M",
        help="top-m heavy-hitter cell (repeatable)",
    )
    p.add_argument("--shard-id", default=None)
    p.add_argument("--show", action="store_true", help="print the current table")
    p.add_argument(
        "--quantile",
        action="append",
        default=[],
        metavar="COL:P",
        help="with --show: read the P-quantile out of COL's histogram or "
        "sample cell (repeatable)",
    )
    p.add_argument(
        "--drift",
        default=None,
        metavar="COL",
        help="print the PSI drift report between the two committed versions' "
        "histogram cells for COL (delta mode: new slice vs history)",
    )
    _add_common(p)
    p.set_defaults(fn=cmd_rollup)

    p = sub.add_parser("search", help="BM25 / dense / RRF-hybrid corpus search")
    p.add_argument("--docs", required=True, help="parquet documents table")
    p.add_argument("--query", required=True)
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--dim", type=int, default=16)
    p.add_argument("--mode", choices=["bm25", "dense", "hybrid"], default="hybrid")
    _add_common(p)
    p.set_defaults(fn=cmd_search)

    p = sub.add_parser(
        "corpus",
        help="documents (jsonl/parquet) or crawls (warc/zip) -> scrubbed, "
        "gated, deduped, split corpus",
    )
    p.add_argument("--src", required=True)
    p.add_argument("--out", required=True)
    p.add_argument(
        "--input-format",
        choices=["jsonl", "parquet", "warc", "wet", "zip", "tar"],
        default="jsonl",
    )
    p.add_argument(
        "--zip-suffix",
        default=".txt",
        help="member filter for --input-format zip/tar (e.g. .txt, .md)",
    )
    p.add_argument(
        "--main-content",
        action="store_true",
        help="strip boilerplate (nav/footer/cookie chrome) from HTML "
        "pages via link-density block scoring (--input-format warc)",
    )
    p.add_argument(
        "--line-dedup",
        action="store_true",
        help="remove lines occurring in >= --line-dedup-min-docs "
        "documents (CCNet-style cross-document boilerplate dedup), "
        "before the quality gate",
    )
    p.add_argument(
        "--robots",
        action="store_true",
        help="drop pages disallowed by the robots.txt captures found "
        "in the crawl itself (--input-format warc)",
    )
    p.add_argument(
        "--meta-robots",
        action="store_true",
        help="drop pages whose robots META tag declares noindex — the "
        "page-level compliance channel (--input-format warc; extra "
        "HTML parse pass)",
    )
    p.add_argument(
        "--canonical-dedup",
        action="store_true",
        help="collapse pages declaring the same rel=canonical target "
        "to one fetch before content dedup (--input-format warc)",
    )
    p.add_argument("--line-dedup-min-docs", type=int, default=2)
    p.add_argument(
        "--span-dedup",
        action="store_true",
        help="remove token spans covered by an 8-gram occurring in >= "
        "--line-dedup-min-docs distinct documents (mid-paragraph "
        "boilerplate line dedup cannot see); rebuilds every document's "
        "text from its token stream, so ALL whitespace/newlines collapse "
        "to single spaces even in documents with no duplicated span",
    )
    p.add_argument("--span-tokens", type=int, default=8)
    p.add_argument(
        "--domain-cap",
        type=int,
        default=None,
        help="keep at most N documents per registrable domain "
        "(deterministic keyed-hash selection)",
    )
    p.add_argument(
        "--lm-ref",
        default=None,
        help="parquet documents table to train the bigram LM on; "
        "gate-surviving docs scoring above --lm-max-ce are dropped "
        "(the CCNet perplexity filter, in-engine)",
    )
    p.add_argument(
        "--lm-max-ce",
        type=float,
        default=None,
        help="absolute cross-entropy ceiling for the LM gate (default "
        "8.0 when neither this nor --lm-keep-buckets is given); "
        "mutually exclusive with --lm-keep-buckets",
    )
    p.add_argument(
        "--lm-order",
        type=int,
        default=2,
        help="LM order: 2 = add-k bigram cross-entropy, >= 3 = stupid "
        "backoff (Brants et al.)",
    )
    p.add_argument(
        "--lm-keep-buckets",
        default=None,
        help="with --lm-ref: per-language quantile gate instead of the "
        "fixed --lm-max-ce threshold — comma list from head,middle,tail "
        "(CCNet keeps head,middle); docs outside the kept terciles of "
        "THEIR language's score distribution drop; unscorable docs keep",
    )
    p.add_argument(
        "--clf-good",
        default=None,
        help="parquet documents table of GOOD reference text; with "
        "--clf-bad, trains the in-engine Naive Bayes quality classifier "
        "(the GPT-3-style model-based filter) and drops docs whose "
        "good-vs-bad log-odds falls below --clf-margin",
    )
    p.add_argument(
        "--clf-bad",
        default=None,
        help="parquet documents table of BAD reference text (see "
        "--clf-good)",
    )
    p.add_argument(
        "--clf-margin",
        type=float,
        default=0.0,
        help="minimum good-vs-bad log-odds (nats) to keep a document "
        "(default 0.0 = predicted good); unscorable docs keep",
    )
    p.add_argument(
        "--clf-model",
        default=None,
        help="saved classifier root from the clftrain command (loads "
        "the model tables instead of retraining; mutually exclusive "
        "with --clf-good/--clf-bad)",
    )
    p.add_argument(
        "--clf-text-col",
        default="text",
        help="text column name inside the --clf-good/--clf-bad "
        "reference tables (the clftrain command's --text-col twin; "
        "the corpus itself always gates on its own text column)",
    )
    p.add_argument(
        "--normalized-dedup",
        action="store_true",
        help="exact dedup keys on the aggressive normalized form "
        "(punctuation folded, digit runs bucketed) so cosmetic "
        "variants collapse",
    )
    p.add_argument(
        "--shingle-tokenizer",
        choices=("word", "auto", "runs"),
        default=None,
        help="override the near-dup SHINGLE tokenizer for --fuzzy-dedup: "
        "'runs' char-grams embedded unsegmented-script/Hangul passages "
        "in place (mixed-script corpora below the whole-doc dominance "
        "line); default follows the lane (auto on warc/wet, word "
        "otherwise).  Shingle lane only — LM/span stages keep the lane "
        "tokenizer",
    )
    p.add_argument(
        "--nfc",
        action="store_true",
        help="Unicode-NFC-normalize dedup keys first: NFC vs NFD "
        "variants of the same rendered text (decomposed accents and "
        "Hangul, common in macOS-originated content) collapse into "
        "one duplicate class; applies to the exact AND fuzzy stages",
    )
    p.add_argument(
        "--fuzzy-dedup",
        type=float,
        default=None,
        metavar="JACCARD",
        help="after exact dedup, collapse NEAR-duplicate clusters at "
        "this Jaccard threshold (MinHash-LSH candidates, exact verify "
        "on candidates only, transitive closure keeps the min-id "
        "representative); crawl lanes route unsegmented-script docs "
        "through character shingles",
    )
    p.add_argument(
        "--graph",
        default=None,
        help="webgraph output root (trust/, pagerank/) to join onto "
        "the corpus by normalized URL (graph -> selection loop)",
    )
    p.add_argument(
        "--min-trust",
        type=float,
        default=None,
        help="drop crawl pages whose TrustRank (--graph trust/ table) "
        "is below this floor; pages absent from the table score 0 "
        "(unreachable from any vetted seed)",
    )
    p.add_argument(
        "--cap-by-rank",
        action="store_true",
        help="with --domain-cap and --graph: keep each domain's "
        "highest-pagerank pages instead of a hash-random subset",
    )
    p.add_argument("--format", choices=["parquet", "jsonl"], default="parquet")
    p.add_argument("--redact-pii", action="store_true")
    p.add_argument("--partitions", type=int, default=None)
    _add_common(p)
    p.set_defaults(fn=cmd_corpus)

    p = sub.add_parser(
        "datasheet", help="documents (jsonl/parquet) -> corpus report card (metric, value)"
    )
    p.add_argument("--src", required=True)
    p.add_argument("--out", default=None, help="optional CSV output dir")
    p.add_argument("--input-format", choices=["jsonl", "parquet"], default="jsonl")
    _add_common(p)
    p.set_defaults(fn=cmd_datasheet)

    p = sub.add_parser(
        "webgraph",
        help="crawl outlink edges -> pagerank / components / anchor-index tables",
    )
    p.add_argument("--edges", required=True, help="outlink edge parquet (src, dst[, anchor, nofollow])")
    p.add_argument("--out", required=True, help="output root (pagerank/, components/, anchors/)")
    p.add_argument("--pagerank-iters", type=int, default=2)
    p.add_argument("--pagerank-damping", type=float, default=0.85)
    p.add_argument(
        "--pagerank-tol",
        type=float,
        default=None,
        help="run pagerank/trust to a fixpoint (max per-node change "
        "<= tol) instead of the fixed --pagerank-iters unroll",
    )
    p.add_argument(
        "--warm-start",
        action="store_true",
        help="seed pagerank/components/trust from the previous run's "
        "tables under --out (incremental webgraph maintenance)",
    )
    p.add_argument("--max-anchors", type=int, default=16)
    p.add_argument(
        "--trust-seeds",
        default=None,
        help="parquet of vetted seed nodes (column 'node') -> trust/ "
        "output (TrustRank: personalized pagerank from the seeds)",
    )
    _add_common(p)
    p.set_defaults(fn=cmd_webgraph)

    p = sub.add_parser(
        "clftrain",
        help="train the NB quality classifier on good/bad references "
        "and save it (parquet tables) for corpus --clf-model and the "
        "streaming ingest",
    )
    p.add_argument("--good", required=True, help="parquet documents table of GOOD reference text")
    p.add_argument("--bad", required=True, help="parquet documents table of BAD reference text")
    p.add_argument("--out", required=True, help="model output root (token_counts/, label_totals/, stats/)")
    p.add_argument("--text-col", default="text")
    _add_common(p)
    p.set_defaults(fn=cmd_clftrain)

    p = sub.add_parser(
        "imagededup",
        help="perceptual-hash image near-dup pairs + duplicate clusters",
    )
    p.add_argument("--src", required=True, help="media parquet (id + binary payload)")
    p.add_argument("--out", required=True, help="output root (pairs/, clusters/)")
    p.add_argument(
        "--hash",
        choices=["dhash", "phash"],
        default="phash",
        help="dhash = gradient difference hash (engine-portable); "
        "phash = DCT low-frequency hash (more robust to blur/recompression)",
    )
    p.add_argument("--max-hamming", type=int, default=6)
    p.add_argument("--id-col", default="media_id")
    p.add_argument("--payload-col", default="payload")
    p.add_argument(
        "--input-format",
        choices=["parquet", "warc"],
        default="parquet",
        help="warc: dedup the image/* responses of a crawl directly "
        "(digest-deduped; media/ mapping table written beside pairs/)",
    )
    _add_common(p)
    p.set_defaults(fn=cmd_imagededup)

    p = sub.add_parser(
        "audiodedup",
        help="perceptual spectral-fingerprint audio near-dup pairs + clusters",
    )
    p.add_argument("--src", required=True, help="media parquet (id + binary payload)")
    p.add_argument("--out", required=True, help="output root (pairs/, clusters/)")
    p.add_argument("--max-hamming", type=int, default=6)
    p.add_argument("--id-col", default="media_id")
    p.add_argument("--payload-col", default="payload")
    p.add_argument(
        "--input-format",
        choices=["parquet", "warc"],
        default="parquet",
        help="warc: dedup the audio/* responses of a crawl directly "
        "(digest-deduped; media/ mapping table written beside pairs/)",
    )
    _add_common(p)
    p.set_defaults(fn=cmd_audiodedup)

    p = sub.add_parser(
        "videodedup",
        help="frame-majority perceptual video near-dup pairs + clusters",
    )
    p.add_argument("--src", required=True, help="media parquet (id + binary payload)")
    p.add_argument("--out", required=True, help="output root (pairs/, clusters/)")
    p.add_argument("--max-hamming", type=int, default=6)
    p.add_argument("--every-ms", type=int, default=1000, help="frame sample period")
    p.add_argument("--id-col", default="media_id")
    p.add_argument("--payload-col", default="payload")
    _add_common(p)
    p.set_defaults(fn=cmd_videodedup)

    p = sub.add_parser(
        "sheetcells",
        help="XLSX/ODS workbooks -> typed (sheet,row,col,value) cell rows",
    )
    p.add_argument("--src", required=True, help="media parquet (id + binary payload)")
    p.add_argument("--out", required=True, help="output root (cells/)")
    p.add_argument("--id-col", default="media_id")
    p.add_argument("--payload-col", default="payload")
    p.add_argument(
        "--input-format",
        choices=["parquet", "warc"],
        default="parquet",
        help="warc: extract cells from a crawl's zip-magic responses "
        "directly (digest-deduped; sheet_cells' content sniff is the "
        "authoritative workbook test — plain zips quarantine; media/ "
        "mapping table written beside cells/)",
    )
    _add_common(p)
    p.set_defaults(fn=cmd_sheetcells)

    p = sub.add_parser(
        "lake", help="lake maintenance: compact | delete (takedown) | merge (upsert)"
    )
    p.add_argument("op", choices=["compact", "delete", "merge"])
    p.add_argument("--path", required=True)
    p.add_argument("--tf", choices=["day", "minute"], default="day",
                   help="compact: bar-lake timeframe (partition layout)")
    p.add_argument("--keys", default=None, help="delete: parquet of keys to remove")
    p.add_argument("--updates", default=None, help="merge: parquet of full replacement rows")
    p.add_argument("--key-col", default="doc_id")
    _add_common(p)
    p.set_defaults(fn=cmd_lake)

    args = ap.parse_args(argv)
    if getattr(args, "fn", None) is cmd_lake:
        if args.op == "delete" and not args.keys:
            ap.error("lake delete requires --keys")
        if args.op == "merge" and not args.updates:
            ap.error("lake merge requires --updates")
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())

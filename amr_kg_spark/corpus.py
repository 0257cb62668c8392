"""The pre-training corpus chain — raw documents in, packed training
sequences out. ``jobs/prep_corpus.py`` and the ``dp_prep_corpus`` bench
headline both run :func:`prep_corpus`; they differ only in the ``stage``
callable each passes for the chain's stage boundaries.

Stage order (each a library operator, composed, nothing bespoke):

  1. normalize_text         — one projection (control chars, whitespace)
  2. scrub_pii              — one projection (+audit counts)
  3. corpus_filter          — single-pass quality/lang/repetition gates
  3.5 dedup_lines           — optional corpus-wide boilerplate-line dedup
  3.6 remove_duplicate_spans — optional ExactSubstr span removal
  3.7 unigram-LM cut        — optional cheap-LM quality tail drop
  3.8 quality classifier    — optional trained-linear-model tail drop
      (--quality-pos reference corpus; CCNet-style noisy negatives)
  3.9 incremental_dedup     — optional drop of docs an earlier increment
      already accepted (--dedup-against fingerprint state; the accepted
      survivors' state re-emits via --emit-fingerprints)
  4. dedup_keep_representatives — near-dup clusters -> keep min id
  4.5 semantic dedup        — optional embedding-cosine near-dup removal
      (featurize_text: deterministic text->vector, no external vectors)
  5. decontaminate          — drop docs sharing n-grams with --benchmark
  5.7-5.9 per-source cap, cluster balance, DSIR resampling — optional
  6. stratified_sample / mix_to_token_budget — deterministic mix
      (--tokenizer bpe counts real subword tokens for the budgets)
  6.5 split_corpus          — optional train/val split (+ val-side
      decontamination of the training docs: the train/val-leakage guard)
  6.7 fim_transform         — optional, training side only
  7. pack_sequences         — budget-token streams (optionally shuffled);
      --materialize assembles actual sequences (materialize_sequences:
      word tokens, or with --tokenizer bpe the BPE token ids that
      bpe_token_ids computed once at stage 6, encode-then-slice)

Scale notes: stages 1-3 fuse into ONE scan-side projection (no exchange
until dedup); dedup/decontam shuffle only hashes; sampling is a
scan-side predicate; packing is one exchange + one window. Every
decision (mix, order, bins) is a pure function of ids + seeds, so a
re-run resumes to bit-identical sequences.
"""

from __future__ import annotations

import argparse

from pyspark.sql import functions as F

from .operators import dedup as D
from .operators import featurize as FZ
from .operators import text as X
from .operators import textprep as TP
from .operators import tokenize as TK

# the column --sample/--mix strata are read from
STRATUM_COL = "lang"


def _strata(cast):
    """argparse type for ``en:0.5,de:0.25`` (or ``lang=en:0.5``) lists."""

    def parse(spec: str) -> dict:
        out = {}
        for item in filter(str.strip, spec.split(",")):
            key, _, value = item.rpartition(":")
            col, eq, stratum = key.rpartition("=")
            if eq and col.strip() != STRATUM_COL:
                raise argparse.ArgumentTypeError(
                    f"strata are {STRATUM_COL} values; {item!r} names "
                    f"column {col.strip()!r}"
                )
            out[stratum.strip()] = cast(float(value))
        return out

    return parse


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(prog="prep_corpus.py")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--rejects", default=None)
    ap.add_argument("--benchmark", default=None)
    ap.add_argument("--decontam-n", type=int, default=13)
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--min-quality", type=float, default=0.2)
    ap.add_argument("--lang", default=None, help="comma list; default: any")
    ap.add_argument(
        "--lm-drop-bottom", type=float, default=None, metavar="FRAC",
        help="fit a unigram LM on the surviving corpus and drop the "
        "bottom FRAC of documents by mean token logprob (CCNet-style "
        "cheap-LM quality cut; threshold via approxQuantile)",
    )
    ap.add_argument(
        "--quality-pos", default=None, metavar="POS_DIR",
        help="train the linear quality classifier with POS_DIR (a curated "
        "reference corpus parquet) as positives and THIS corpus as noisy "
        "negatives (the CCNet trick), then drop the lowest-scoring tail",
    )
    ap.add_argument(
        "--quality-drop-bottom", type=float, default=0.1, metavar="FRAC",
        help="with --quality-pos: fraction of the corpus to drop from the "
        "bottom of the classifier-logit distribution (approxQuantile cut)",
    )
    ap.add_argument(
        "--semantic-dedup", type=float, default=None, metavar="COSINE",
        help="ALSO drop embedding-cosine near-dups at this threshold, "
        "using the deterministic text featurizer (no external vectors): "
        "RHP-banded candidate pairs + exact rerank -> keep min-id rep",
    )
    ap.add_argument(
        "--dedup-lines", type=int, default=None, metavar="MIN_CHARS",
        help="corpus-wide line dedup before doc dedup; lines shorter than "
        "MIN_CHARS are exempt",
    )
    ap.add_argument(
        "--dedup-against", default=None, metavar="FP_DIR",
        help="INCREMENTAL ingest: drop documents already present in the "
        "corpus whose fingerprint table (corpus_fingerprints parquet) "
        "lives at FP_DIR — exact for (id, fp) tables, minhash-estimate "
        "for (id, sig) tables (schema auto-detected)",
    )
    ap.add_argument(
        "--emit-fingerprints", default=None, metavar="DIR",
        help="write the ACCEPTED documents' fingerprint table to DIR "
        "(same method as the --dedup-against table, else exact) — union "
        "it with the existing state for the next increment",
    )
    ap.add_argument("--sample", type=_strata(float), default=None,
                    help="lang:fraction list")
    ap.add_argument("--mix", type=_strata(int), default=None,
                    help="lang:token-budget list")
    ap.add_argument("--budget", type=int, default=2048)
    ap.add_argument("--shuffle-seed", type=int, default=None)
    ap.add_argument(
        "--materialize", action="store_true",
        help="write the ASSEMBLED budget-token sequences (seq_tokens "
        "arrays) instead of per-document packing coordinates: word-token "
        "strings with --tokenizer whitespace, REAL BPE token ids "
        "(array<int>, encode-then-slice boundaries) with --tokenizer bpe",
    )
    ap.add_argument(
        "--eod", action="store_true",
        help="with --materialize --tokenizer bpe: reserve an <eod> id in "
        "the vocab and append it to every document's encoding (standard "
        "document delimiter; counts against the budget)",
    )
    ap.add_argument(
        "--boundaries", action="store_true",
        help="with --materialize: also emit seq_doc_starts (in-sequence "
        "document-segment start offsets — attention/loss-mask boundaries)",
    )
    ap.add_argument(
        "--val-fraction", type=float, default=None, metavar="FRAC",
        help="deterministic train/validation split before packing "
        "(split_corpus id-hash predicate): output lands in "
        "<output>/train and <output>/val",
    )
    ap.add_argument(
        "--val-decontam", type=int, default=None, metavar="N",
        help="with --val-fraction: ALSO drop training documents sharing "
        "an N-gram with the validation side (guards against train/val "
        "leakage through near-dups that survive the id-hash split — "
        "near-identical docs land on both sides; val shingles broadcast)",
    )
    ap.add_argument(
        "--shard-size", type=int, default=None, metavar="N",
        help="write the output as ORDERED training shards (range-"
        "partitioned + sorted by (pack_bin, seq_id), at most N rows per "
        "parquet file) instead of arbitrary task-sized files",
    )
    ap.add_argument(
        "--stage-dir", default=None,
        help="persist every audited stage through the lineage StageRunner "
        "(atomic publish + commit marker + lineage rows): a re-run with "
        "the same dir resumes from committed stages instead of recomputing "
        "the chain — the checkpoint/resume contract applied to corpus prep",
    )
    ap.add_argument(
        "--tokenizer", choices=("whitespace", "bpe"), default="whitespace",
        help="token-count basis for --mix/--budget: Catalyst word count "
        "(default) or a BPE merge table trained on the corpus (real "
        "subword counts via a batched Arrow UDF)",
    )
    ap.add_argument("--bpe-merges", type=int, default=256)
    ap.add_argument("--bpe-sample", type=int, default=2000,
                    help="docs the BPE trainer reads (driver-side): the "
                    "ones with the lowest xxhash64(doc_id)")
    ap.add_argument(
        "--max-per-source", type=int, default=None, metavar="Q",
        help="cap each source/domain at Q documents (largest cleaned "
        "text first, ties by id — the Common-Crawl-style guard against "
        "template-heavy domains dominating the mix); runs after "
        "dedup/decontam, before sampling",
    )
    ap.add_argument(
        "--fim-rate", type=float, default=None, metavar="RATE",
        help="fill-in-the-middle augmentation: rewrite RATE of the "
        "TRAINING-side documents into PSM sentinel layout "
        "(hash-deterministic selection + split points); whitespace "
        "tokenizer only — a BPE vocab trained pre-FIM has no sentinel "
        "merges, so token-budget packing would mis-count",
    )
    ap.add_argument("--fim-seed", type=int, default=4242)
    ap.add_argument(
        "--dedup-spans", type=int, default=None, metavar="K",
        help="ExactSubstr duplicated-span removal (Lee et al. 2021): any "
        "run of >= K tokens occurring more than once corpus-wide "
        "survives only at its first occurrence; runs after line dedup, "
        "before document-level dedup (prod: K=50)",
    )
    ap.add_argument(
        "--cluster-balance", type=int, default=None, metavar="K",
        help="SemDeDup-style topic balancing: featurize -> seeded KMeans "
        "with K clusters -> keep at most --cluster-cap docs per cluster "
        "(deterministic xxhash64(id, seed) pick order); runs after the "
        "per-source quota, before sampling",
    )
    ap.add_argument("--cluster-cap", type=int, default=1000, metavar="M")
    ap.add_argument(
        "--dsir-target", default=None, metavar="DIR",
        help="DSIR importance resampling (Xie et al. 2023): fit "
        "hashed-bigram bucket LMs on DIR (the target corpus parquet) vs "
        "THIS corpus, then keep the --dsir-keep documents by Gumbel "
        "top-n on the integer importance log-weight — a deterministic "
        "sample proportional to exp(w) that skews the mix toward the "
        "target distribution; runs after the per-source/cluster caps, "
        "before sampling",
    )
    ap.add_argument("--dsir-keep", type=int, default=None, metavar="N")
    args = ap.parse_args(argv)
    if args.fim_rate is not None and args.tokenizer == "bpe":
        raise SystemExit(
            "--fim-rate requires --tokenizer whitespace (train BPE on the "
            "FIM-transformed corpus with its sentinels as specials instead)"
        )
    if args.eod and not (args.materialize and args.tokenizer == "bpe"):
        raise SystemExit(
            "--eod appends a reserved token id: it requires "
            "--materialize --tokenizer bpe"
        )
    if args.boundaries and not args.materialize:
        raise SystemExit("--boundaries requires --materialize")
    if args.dsir_target is not None and args.dsir_keep is None:
        raise SystemExit("--dsir-target requires --dsir-keep N")
    return args


def prep_corpus(spark, docs, args, stage):
    """Run the corpus chain over ``docs`` with the options in ``args``
    (a :func:`parse_args` namespace; ``input``/``output`` are the
    caller's sinks and are not read here).

    ``stage(key, df) -> df`` is called at every stage boundary
    (``after_filter``, ``after_dedup``, ``after_*``, ``rows_train``/
    ``rows_val``) and the chain continues from what it returns: the job
    persists and counts, or commits through ``StageRunner``; the bench
    headline checkpoints. The boundary is what keeps a multi-branch
    intermediate from being re-derived per branch, so it must
    materialize; frames the chain persists itself (the signal frame, the
    scored tails) are unpersisted right after the boundary that reads
    them. The side-channel sinks (``--rejects``,
    ``--emit-fingerprints``) are written on the way.

    Returns ``(sides, counts)``: the packed frames by split side (``""``
    without ``--val-fraction``, else ``"train"``/``"val"``) and the
    chain's own audit counts (lines dropped, BPE sizes, ...)."""
    counts: dict = {}

    def rewritten(key, df, counter, total, *aux):
        # text-rewrite stage: the boundary comes BEFORE the counter
        # aggregate, so the rewrite subtree (two shuffles for line dedup)
        # materializes once and the aggregate and the rest of the chain
        # both read the stage
        df = stage(key, df)
        counts[total] = int(df.agg(F.sum(counter)).collect()[0][0] or 0)
        return df.drop("text", counter, *aux).withColumnRenamed(
            "text_deduped", "text"
        )

    def keep_top(key, scored, col, frac, keep):
        # scored-tail cut: the quantile and the keep filter both read the
        # scores, so they are persisted first — otherwise the corpus-scale
        # scoring pass runs twice
        scored = scored.persist()
        thresh = scored.approxQuantile(col, [frac], 0.001)[0]
        out = stage(key, keep(scored.filter(F.col(col) >= thresh)))
        scored.unpersist()
        return out

    # 1+2: normalize + scrub compose into the same projection. With
    # --dedup-lines, normalization must PRESERVE line structure: the
    # default collapses "\n" into the whitespace run, so stage 3.5's
    # split-on-"\n" would see one segment per document and line dedup
    # would silently degenerate into whole-document exact dedup
    # (round-6 ADVICE #1). preserve_newlines collapses only horizontal
    # whitespace and canonicalizes \r\n|\r|U+2028|U+2029 to \n.
    cleaned = (
        TP.scrub_pii(
            TP.normalize_text(
                docs, preserve_newlines=args.dedup_lines is not None
            ),
            text_col="text_norm", out_col="text_clean",
        )
        .drop("text")
        .withColumnRenamed("text_clean", "text")
    )

    # 3: single-pass quality gate (+ audit side-channel)
    langs = (
        [x.strip() for x in args.lang.split(",") if x.strip()]
        if args.lang
        else None
    )
    sig = X.corpus_filter(
        cleaned, min_tokens=args.min_tokens, min_quality=args.min_quality,
        langs=langs,
    )
    # the signal frame is persisted, not counted: the signals evaluate once
    # for both branches (rejects write + kept filter; without it the
    # rejects write evaluates the whole upstream chain a second time,
    # round-5 ADVICE #1), and the reject_reason filter cannot be pushed
    # below it — a stage boundary on the filtered frame does not stop
    # that pushdown, which inlines the whole scrub+signal chain into the
    # scan filter and each signal lambda (99 scrub regex copies in the
    # optimized plan instead of 10; 5x the wall)
    sig = sig.persist()
    if args.rejects:
        sig.filter(F.col("reject_reason").isNotNull()).write.mode(
            "overwrite"
        ).parquet(args.rejects + "/quality")
    kept = stage(
        "after_filter",
        sig.filter(F.col("reject_reason").isNull()).select(cleaned.columns),
    )
    sig.unpersist()

    # 3.5: boilerplate line dedup (optional) — repeated banners/nav lines
    # removed corpus-wide before document-level dedup sees the texts
    if args.dedup_lines is not None:
        kept = rewritten(
            "after_line_dedup",
            D.dedup_lines(kept, min_chars=args.dedup_lines),
            "n_lines_dropped", "lines_dropped",
        )

    # 3.6: duplicated-span removal (optional) — ExactSubstr: runs of
    # >= K tokens occurring more than once corpus-wide survive only at
    # their first (id, position) occurrence (Lee et al. 2021), cut BEFORE
    # document-level dedup so repeated boilerplate spans can't hold
    # near-dup similarity up between otherwise-distinct documents. The
    # rebuilt text is the space-joined surviving token stream (newlines —
    # already consumed by line dedup when both flags are set — do not
    # survive).
    if args.dedup_spans is not None:
        kept = rewritten(
            "after_span_dedup",
            D.remove_duplicate_spans(kept, k=args.dedup_spans),
            "n_tokens_removed", "span_tokens_removed",
            "n_tokens_kept", "n_spans_removed",
        )

    # 3.7: cheap-LM quality cut (optional) — fit a unigram LM on the
    # surviving corpus, drop the least corpus-typical tail by mean token
    # logprob (CCNet-style; LM table broadcasts, one scoring join)
    if args.lm_drop_bottom is not None:
        survivors = kept
        kept = keep_top(
            "after_lm_filter",
            X.unigram_logprob(kept, X.fit_unigram_lm(kept)).select(
                "doc_id", "lm_score"
            ),
            "lm_score", args.lm_drop_bottom,
            lambda top: survivors.join(
                top.select("doc_id"), "doc_id", "left_semi"
            ),
        )

    # 3.8: trained-classifier quality cut (optional) — fit the linear
    # quality model driver-side (positives = the curated reference,
    # negatives = a bounded sample of THIS corpus: the standard
    # noisy-negative trick), score every doc in one Catalyst projection,
    # drop the bottom tail by logit
    if args.quality_pos is not None:
        weights = FZ.fit_quality_classifier(
            spark.read.parquet(args.quality_pos), kept
        )
        kept = keep_top(
            "after_quality_clf", FZ.score_quality(kept, weights),
            "quality_logit", args.quality_drop_bottom,
            lambda top: top.drop("quality_logit"),
        )

    # 3.9: incremental dedup (optional) — drop documents the corpus has
    # ALREADY accepted in previous increments, using only its persisted
    # fingerprint table (never the accepted text). Runs on the cleaned
    # text, which is what --emit-fingerprints records, so increments of
    # the SAME job compare in the same normalization space.
    fp_method, fp_n, fp_k = "exact", 3, 32
    if args.dedup_against:
        state = spark.read.parquet(args.dedup_against)
        # parameters come from the state's meta sidecar when it has one:
        # fingerprints are pure functions of (normalization space, method,
        # n, num_hashes), so an increment hashed under different
        # parameters compares in a DIFFERENT space and re-crawls silently
        # pass dedup (round-7 ADVICE #2). A state without a sidecar
        # (externally built) falls back to schema inference + defaults.
        meta = D.read_fingerprint_meta(spark, args.dedup_against)
        if meta is not None:
            fp_method, fp_n, fp_k = (
                meta["method"], meta["n"], meta["num_hashes"]
            )
            preserve = args.dedup_lines is not None
            if bool(meta["preserve_newlines"]) != preserve:
                raise SystemExit(
                    "--dedup-against state was fingerprinted with "
                    f"preserve_newlines={meta['preserve_newlines']} (its "
                    "emitting run's --dedup-lines setting) but this run "
                    f"normalizes with preserve_newlines={preserve} — the "
                    "two text spaces differ, so incremental dedup would "
                    "silently miss re-crawls; match --dedup-lines between "
                    "increments or rebuild the state"
                )
            # same-space check for duplicated-span removal (it rewrites
            # the text before fingerprinting); sidecars written before
            # the field existed don't carry it and fall through
            if "spans_k" in meta and meta["spans_k"] != args.dedup_spans:
                raise SystemExit(
                    "--dedup-against state was fingerprinted with "
                    f"--dedup-spans={meta['spans_k']} but this run uses "
                    f"--dedup-spans={args.dedup_spans} — the two text "
                    "spaces differ; match the flag between increments or "
                    "rebuild the state"
                )
        else:
            fp_method = "minhash" if "sig" in state.columns else "exact"
        kept = stage(
            "after_incremental_dedup",
            D.incremental_dedup(
                kept, state, method=fp_method, n=fp_n, num_hashes=fp_k
            ),
        )

    # 4: near-dup removal (clusters -> min-id representative)
    kept = stage(
        "after_dedup", D.dedup_keep_representatives(kept, method="exact")
    )

    # 4.5: semantic near-dup removal (optional) — embedding-cosine dedup
    # driven entirely from raw text via the deterministic featurizer
    if args.semantic_dedup is not None:
        sem_pairs = FZ.semantic_neardup_pairs(
            kept, threshold=args.semantic_dedup
        )
        kept = stage(
            "after_semantic_dedup",
            D.dedup_keep_representatives(kept, pairs=sem_pairs),
        )

    # 5: benchmark decontamination (optional)
    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
        kept = stage(
            "after_decontam", D.decontaminate(kept, bench, n=args.decontam_n)
        )

    # accepted-state snapshot for the NEXT increment: everything that
    # survived dedup/decontam (docs later dropped by sampling/mixing were
    # still SEEN — a re-crawl of one should not re-enter tomorrow)
    if args.emit_fingerprints:
        D.corpus_fingerprints(
            kept, method=fp_method, n=fp_n, num_hashes=fp_k
        ).write.mode("overwrite").parquet(args.emit_fingerprints)
        # the meta sidecar the NEXT increment's --dedup-against verifies
        D.write_fingerprint_meta(
            spark, args.emit_fingerprints, fp_method, num_hashes=fp_k,
            n=fp_n, preserve_newlines=args.dedup_lines is not None,
            spans_k=args.dedup_spans,
        )
        counts["fingerprints_emitted"] = (
            spark.read.parquet(args.emit_fingerprints).count()
        )

    # 5.7: per-source quota cap (optional) — after dedup/decontam (and
    # after the fingerprint snapshot: capped-out docs were still SEEN, so
    # a re-crawl of one must not re-enter the next increment), before
    # sampling. Ordering is by CLEANED text length desc (ties by id) — an
    # integer total order, so the kept set reproduces exactly anywhere.
    if args.max_per_source is not None:
        kept = stage(
            "after_source_cap",
            TP.cap_per_stratum(
                kept.withColumn("__len", F.length("text")),
                args.max_per_source,
                order_col="__len",
            ).drop("__len", "stratum_rank"),
        )

    # 5.8: cluster-balanced subsetting (optional) — SemDeDup-style topic
    # balancing over the deterministic featurizer's embedding space:
    # seeded KMeans, then at most --cluster-cap docs per cluster picked
    # in xxhash64(id, seed) order, so no single content mode dominates
    # the mix regardless of how skewed the crawl is
    if args.cluster_balance is not None:
        kept = stage(
            "after_cluster_balance",
            FZ.cluster_balanced_sample(
                kept,
                n_clusters=args.cluster_balance,
                per_cluster=args.cluster_cap,
            ).drop("cluster", "stratum_rank"),
        )

    # 5.9: DSIR importance resampling (optional) — skew the surviving
    # corpus toward a target distribution: two B-bucket histograms fit
    # driver-side, integer micro-nat weights broadcast, Gumbel top-n
    # selection (deterministic sampling proportional to exp(w))
    if args.dsir_target is not None:
        dsir_w = FZ.fit_dsir_weights(
            spark.read.parquet(args.dsir_target), kept
        )
        kept = stage(
            "after_dsir",
            FZ.dsir_select(kept, dsir_w, n=args.dsir_keep).drop(
                "dsir_logweight"
            ),
        )

    # 6: deterministic mix (rate-based or token-budget-based)
    if args.sample:
        kept = stage("after_sample", TP.stratified_sample(kept, args.sample))
    # token-count basis for mixing + packing: whitespace (Catalyst) or a
    # BPE merge table trained driver-side on a deterministic sample of the
    # SURVIVING corpus (kept is materialized, so the sample reads it).
    # Each document is BPE-encoded once: n_tokens is the size of its ids,
    # and with --materialize the ids ride through the stage boundaries to
    # the packer. Without it the ids are dropped at once, so Catalyst
    # collapses the count to size(udf(text)) and no stage stores arrays.
    if args.tokenizer == "bpe":
        sample = TK.sample_texts(kept, n=args.bpe_sample)
        merges = TK.train_bpe(sample, num_merges=args.bpe_merges)
        specials = ("<unk>", "<eod>") if args.eod else ("<unk>",)
        vocab = TK.build_vocab(merges, sample, specials=specials)
        counts["bpe_merges_trained"] = len(merges)
        counts["bpe_vocab_size"] = len(vocab)
        toks = kept.withColumn(
            "token_ids", TK.bpe_token_ids("text", merges, vocab)
        ).withColumn("n_tokens", F.size("token_ids"))
        if not args.materialize:
            toks = toks.drop("token_ids")
    else:
        toks = kept.withColumn("n_tokens", F.size(D.tokens_col()))
    if args.mix:
        toks = stage("after_mix", TP.mix_to_token_budget(toks, args.mix))

    # 6.5: deterministic train/validation split (optional) — both sides
    # are scan-side id-hash filters over the SAME surviving frame
    # (disjoint + exhaustive by construction); with --val-decontam the
    # training side additionally drops documents sharing an N-gram with
    # the validation side (near-identical docs land on both sides of an
    # id-hash split — the standard train/val-leakage guard)
    if args.val_fraction is not None:
        train, val = TP.split_corpus(toks, val_fraction=args.val_fraction)
        train = stage("rows_train", train)
        val = stage("rows_val", val)
        if args.val_decontam is not None:
            train = stage(
                "after_val_decontam",
                D.decontaminate(train, val, n=args.val_decontam),
            )
        sides = {"train": train, "val": val}
    else:
        sides = {"": toks}

    # 6.7: FIM augmentation (optional) — TRAINING side only (the val set
    # must measure plain language modeling), after the split so the
    # rewrite can't leak across it; token counts are recomputed on the
    # transformed text (the sentinels tokenize, so they count against
    # the packing budget exactly as they will at training time)
    if args.fim_rate is not None:
        for side_name in list(sides):
            if side_name == "val":
                continue
            fimmed = stage(
                "after_fim" + ("_" + side_name if side_name else ""),
                TP.fim_transform(
                    sides[side_name], rate=args.fim_rate, seed=args.fim_seed
                ),
            )
            counts["fim_rewritten"] = fimmed.filter(
                F.col("fim_applied")
            ).count()
            sides[side_name] = (
                fimmed.drop(
                    "text", "fim_applied", "fim_prefix_len", "fim_middle_len"
                )
                .withColumnRenamed("fim_text", "text")
                .withColumn("n_tokens", F.size(D.tokens_col("text")))
            )

    # 7: pack into training sequences — coordinates by default, or the
    # assembled budget-token sequences themselves with --materialize
    # (word-token strings, or the stage-6 BPE token ids when --tokenizer
    # bpe, encode-then-slice)
    def pack(side):
        if not args.materialize:
            return TP.pack_sequences(
                side, budget=args.budget, shuffle_seed=args.shuffle_seed
            )
        tokens = None
        if args.tokenizer == "bpe":
            tokens = TK.with_eod(
                F.col("token_ids"), vocab["<eod>"] if args.eod else None
            )
        return TP.materialize_sequences(
            side,
            budget=args.budget,
            tokens=tokens,
            shuffle_seed=args.shuffle_seed,
            with_boundaries=args.boundaries,
        )

    return {name: pack(side) for name, side in sides.items()}, counts

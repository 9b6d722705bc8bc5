"""Stage a k-fold replication of the sf0.1 fixtures with disjoint key
offsets: k=10 is the sfx1 rung (~sf1: 6M lineitem, 1M events, 50k
docs), k=100 the sfx10 rung. bench.py times its scale rungs on these
stagings; ``tools/layer_profile.py --sf-dir`` ladders any of them. Measured
results live in docs/SCALE.md.

Usage: python tools/scale10x.py dst [--k N]

Key strides exceed the sf0.1 key ranges, so copies stay disjoint and
every join key keeps referential integrity (the k-th copy of lineitem
joins the k-th copy of orders, etc.).

Documents are NEAR-DUP JITTERED (VERDICT r10 #4): a raw replication
gives every doc k-1 exact clones, so near-dup CANDIDATES and OUTPUT
grow as C(k,2) per clone clique — at k=100 that measured 128.5 s of
pair materialization, i.e. the synthetic corpus, not the plan. Copy
i>0 instead gets every JITTER_STRIDE-th token replaced with a
copy-keyed token from a 128-token alphabet: pairwise shingle-Jaccard
between copies drops to ~0.14 (untouched-shingle fraction q=0.25 —
only 3-windows starting at s≡1 mod 4 avoid a stride-4 position —
J=q/(2-q)≈0.14), below the LSH
candidate threshold (~0.5 at 16x4 banding), so cross-copy pairs are
mostly non-candidates and never verified output, while exact dups
WITHIN a copy replicate linearly. Copy 0 stays pristine. The alphabet
is small (128 tokens) on purpose: vocab-bounded ops (q_ngram_lm's
bigram space) grow 31 -> 159 words, not O(corpus). The staging marker
records the jitter scheme so a bench run can't silently time a corpus
staged under another one.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from catenae_kafka_spark.catalog import TABLES, catalog
from catenae_kafka_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
K = 10
STRIDES = {
    "lineitem": {"l_orderkey": 10_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "customer": {"c_custkey": 1_000_000},
    "events": {"event_id": 10_000_000, "user_id": 1_000_000},
    "documents": {"doc_id": 1_000_000},
    "embeddings": {"vec_id": 1_000_000},
}


#: completion marker written LAST by replicate(): checking any one
#: table file (bench/ladder used lineitem.parquet, written mid-run)
#: accepts a Ctrl-C'd partial staging forever; the marker also records
#: WHICH k, src and jitter mode built the dir, so a staging built for a
#: different scale/corpus re-stages instead of being silently timed.
MARKER = "_STAGED_OK"

#: replace every JITTER_STRIDE-th token of copies i>0. 4 is the knee:
#: with 3-token shingles, stride 3 leaves ZERO shared shingles (copies
#: become unrelated, no verification pressure at all) while stride 6
#: leaves q=0.5 -> J=0.33 -> ~17% of cross-copy pairs still collide in
#: some band (4.3M candidates at k=100, back near the pathology).
#: Stride 4 -> J~0.14 -> ~0.7% band-collision: bounded candidate
#: pressure that still exercises the verify join at scale.
JITTER_STRIDE = 4
#: jitter-token alphabet size. Copies i and j agree on a replaced
#: position iff i ≡ j (mod JITTER_ALPHABET), so copies 128 apart would
#: be EXACT clones again — replicate() therefore rejects k >
#: JITTER_ALPHABET rather than silently reintroducing the clique
#: pathology at a bigger k. Kept small on purpose: vocab-bounded ops
#: (q_ngram_lm's bigram space) must grow by O(1) words, not O(corpus).
JITTER_ALPHABET = 128
#: marker tag for the jittered corpus; bump when the scheme changes
# v2: n_chars recomputed after the text jitter (ADVICE r11); v3: the
# recompute keeps the fixture's bigint type (v2 narrowed to int32).
# Any change to staged OUTPUT must bump this string — staged() compares
# it, and an unbumped change no-ops behind a still-valid marker.
JITTER_MODE = "neardup-v3"


def staged(dst: str, k: int) -> bool:
    """True iff ``dst`` holds a COMPLETE k-fold staging OF THIS SOURCE
    in THIS jitter mode.

    The src/jitter checks matter as much as the k check: a dir staged
    from a different fixture — or with the pre-r11 exact-clone
    documents (those markers carry no ``jitter`` key and fail here BY
    DESIGN) — would otherwise pass and be silently timed against the
    wrong corpus (ADVICE r9/r10)."""
    try:
        with open(os.path.join(dst, MARKER)) as fh:
            meta = json.load(fh)
        return (
            isinstance(meta, dict)
            and meta.get("k") == k
            and meta.get("src") == SRC
            and meta.get("jitter") == JITTER_MODE
        )
    except (OSError, ValueError):
        return False


def _jitter_text(toks):
    """Copy-keyed token perturbation for replicated documents (column
    expression; expects ``_i`` in scope). Every JITTER_STRIDE-th token
    of copy i>0 becomes ``jt{(i+pos)%128}``: copies i != j < 128 never
    agree on a replaced position, so replaced shingles are pairwise
    distinct across copies while untouched shingles stay shared —
    pairwise Jaccard ~0.14 by construction (module docstring math).
    Deterministic in (copy index, position): two source docs with
    IDENTICAL text get identical jitter, so exact dups WITHIN a copy
    replicate linearly and stay exact."""
    return F.array_join(
        F.zip_with(
            toks,
            F.sequence(F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda tok, pos: F.when(
                (F.col("_i") > 0) & (pos % JITTER_STRIDE == 0),
                F.concat(
                    F.lit("jt"),
                    ((F.col("_i") + pos) % JITTER_ALPHABET).cast("string"),
                ),
            ).otherwise(tok),
        ),
        " ",
    )


def replicate(spark, dst: str, k: int = K) -> None:
    """Write a k-fold key-shifted replication of sf0.1 into ``dst``.

    k=10 is the standard sfx1 (~sf1) rung; k=100 stages sfx10 (~sf10,
    60M lineitem) for the 100x ladder step. Strides only need to exceed
    the SOURCE (sf0.1) key ranges, so the same strides serve any k —
    copy offsets stay disjoint (k=100 tops out at 99 x 10M = 9.9e8,
    far inside BIGINT)."""
    # k=0 would build F.sequence(0, -1) — a DESCENDING sequence, the
    # exact pitfall the explode below guards against — and then write a
    # marker recording the bogus staging as valid (ADVICE r9)
    if k < 1:
        raise ValueError(f"replication factor k must be >= 1, got {k}")
    if k > JITTER_ALPHABET:
        # copies i and i+JITTER_ALPHABET would replace the same
        # positions with IDENTICAL tokens — exact clones again, i.e.
        # the clique pathology back at a bigger k with a marker that
        # vouches for the jittered corpus
        raise ValueError(
            f"k={k} exceeds the {JITTER_ALPHABET}-token jitter alphabet "
            "(copies that far apart become exact clones); widen "
            "JITTER_ALPHABET and bump JITTER_MODE"
        )

    marker = os.path.join(dst, MARKER)
    if os.path.exists(marker):
        os.remove(marker)  # re-staging: invalidate until complete again
    c = catalog(spark, SRC)
    for t in TABLES:
        df = c.table(t)
        if t in STRIDES:
            i = F.explode(
                F.sequence(F.lit(0), F.lit(k - 1))
            ).alias("_i")
            df = df.select("*", i)
            for col, stride in STRIDES[t].items():
                df = df.withColumn(col, F.col(col) + F.col("_i") * stride)
            if t == "documents":
                df = df.withColumn(
                    "text", _jitter_text(F.split(F.col("text"), " "))
                )
                # jitter rewrites text; recompute the derived length so
                # rung queries correlating text with n_chars never run
                # on inconsistent data (ADVICE r11). Cast back to the
                # fixture's bigint (F.length returns int32 — a staged
                # corpus must keep the documented schema)
                df = df.withColumn("n_chars", F.length("text").cast("bigint"))
            df = df.drop("_i")
            # spread the write so the k-fold explode of a single-file
            # source doesn't serialize through one task
            df = df.repartition(max(k, 8))
        df.write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
    with open(marker, "w") as fh:
        json.dump({"k": k, "src": SRC, "jitter": JITTER_MODE}, fh)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dst")
    ap.add_argument("--k", type=int, default=K)
    args = ap.parse_args(argv)
    if not staged(args.dst, args.k):
        replicate(get_spark("scale10x"), args.dst, args.k)
    print(f"staged {args.dst} (k={args.k})", flush=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Adversarial cross-copy dedup growth fixture (round-12 verdict ask #1).

make_sf1.py's decade construction is deliberately CLEAN: per-copy token
suffixes make copies shingle-disjoint, so cross-copy candidates are zero
BY CONSTRUCTION and the flat candidates/true-pair ratio it measures
cannot fail. A real crawl's growth is not clean — boilerplate shingles
span the whole corpus and near-dup families span crawl snapshots. This
generator builds the decade fixture a crawl actually presents, so the
candidate-growth table is NOT fixture-guaranteed linear:

- corpus-wide BOILERPLATE, two tiers, shared verbatim across ALL copies
  (never copy-suffixed):
    * a universal 3-token phrase appended to 30% of every copy's docs —
      one shingle with df = 30% of the whole corpus (the SkewStressSpec
      hot-shingle pattern at growth scale);
    * four 4-token family phrases appended to a further 40% (10% each)
      — a df ~ 10%-of-corpus tier, plus the partially doc-specific
      boundary shingles where doc tail meets phrase head.
  If df-ascending prefix selection ever admitted these, the inverted
  index would grow a bucket quadratic in corpus size — exactly the
  failure mode the dedup checks must be ABLE to see.
- CROSS-COPY NEAR-DUP CLIQUES: every ~401st doc becomes a clique base
  whose text is a fixed 80-token string; each copy carries that base
  with an 11-token copy-specific mutation block (J = 65/91 ≈ 0.714
  pairwise — the SkewStressSpec clique recipe), so TRUE pairs grow
  quadratically in the copy count: C(copies, 2) per base. Candidate
  growth therefore has a legitimate superlinear component; the claim
  under test is that candidates track TRUE pairs, not corpus size
  squared.
- everything else follows make_sf1.py: doc_id offset per copy, per-copy
  token suffixes on non-clique text, one parquet file per copy.

Usage: python3 tools/make_adversarial.py [src_dir] [dst_dir] [copies]
Check:  sbt "testOnly graft.operators.AdversarialDedupSpec" runs a CI-sized
        in-memory replica of this fixture; SCALING.md records the
        full-scale decades.
"""
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
DST = sys.argv[2] if len(sys.argv) > 2 else "/tmp/adv1"
COPIES = int(sys.argv[3]) if len(sys.argv) > 3 else 1
OFF = 100_000_000  # > every doc_id in sf0.1 (same as make_sf1.py)

UNIVERSAL = "advhot1 advhot2 advhot3"          # df = 30% of the corpus
FAMILIES = [f"bp{k}a bp{k}b bp{k}c bp{k}d" for k in range(4)]  # 10% each

con = duckdb.connect()
base = con.execute(
    f"SELECT doc_id, text, lang, source"
    f" FROM read_parquet('{SRC}/documents.parquet') ORDER BY doc_id"
).fetchall()

d = f"{DST}/documents.parquet"
os.makedirs(d, exist_ok=True)
for f in os.listdir(d):
    os.remove(os.path.join(d, f))


def clique_text(doc_id, copy):
    """80 fixed base tokens, 11-token block [30:41] mutated per copy:
    65 of 78 shingles shared between any two copies -> J = 65/91."""
    toks = [f"cq{doc_id}t{j}" for j in range(80)]
    toks[30:41] = [f"cq{doc_id}m{copy}y{j}" for j in range(11)]
    return " ".join(toks)


n_clique = n_boiler = 0
for c in range(COPIES):
    ids, texts, langs, sources, n_chars = [], [], [], [], []
    for doc_id, text, lang, source in base:
        if doc_id % 401 == 7:  # cross-copy near-dup clique member
            t = clique_text(doc_id, c)
            if c == 0:
                n_clique += 1
        else:
            t = text if c == 0 else " ".join(
                w + f"_{c}" for w in text.split(" "))
            m = doc_id % 10
            if m < 3:          # universal hot boilerplate, 30%
                t = t + " " + UNIVERSAL
            elif m < 7:        # family boilerplate, 40% (10% per phrase)
                t = t + " " + FAMILIES[doc_id % 4]
            if c == 0 and m < 7:
                n_boiler += 1
        ids.append(doc_id + c * OFF)
        texts.append(t)
        langs.append(lang)
        sources.append(source)
        n_chars.append(len(t))
    tbl = pa.table({"doc_id": pa.array(ids, pa.int64()),
                    "text": pa.array(texts, pa.string()),
                    "lang": pa.array(langs, pa.string()),
                    "source": pa.array(sources, pa.string()),
                    "n_chars": pa.array(n_chars, pa.int64())})
    pq.write_table(tbl, f"{d}/part-{c:02d}.parquet")

print(f"{DST}: {len(base) * COPIES} docs in {COPIES} files; "
      f"{n_clique} clique bases (true cross-copy pairs = "
      f"{n_clique * COPIES * (COPIES - 1) // 2}), "
      f"{n_boiler}/{len(base)} boilerplated per copy")

"""Corpus and oracle generator, run as a child of the benchmark.

    python3 -m perfbench.inputs '{"corpus": {...}, "seed": 1, "out_dir": "..."}'

Generates the crawl corpus from the seed, writes ``web``, ``images``
and ``images_truth`` as parquet under ``out_dir`` (page bodies
zlib-compressed, the layout bench.py uses), prints
``["written", {...}]``, then runs the reference-semantics crawl oracle
and prints ``["oracle", {...}]``: the reference order every crawl is
checked against (a crawl capped at fewer rounds against its prefix). Each message is one JSON line on stdout.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

BASE_URL = "https://host0.test"
POLITENESS_SEED = 42
NEARDUP_MAX_HAMMING = 6


def digest(items) -> str:
    h = hashlib.sha256()
    for s in items:
        h.update(s.encode())
        h.update(b"\n")
    return h.hexdigest()


def popcount_pairs(phashes: list[int], max_hamming: int) -> int:
    """Unordered pairs of 64-bit hashes within ``max_hamming`` bits;
    the quadratic reference for the verify tail's near-dup count."""
    mask = (1 << 64) - 1
    vals = [p & mask for p in phashes]
    return sum(
        1
        for i in range(len(vals))
        for j in range(i + 1, len(vals))
        if bin(vals[i] ^ vals[j]).count("1") <= max_hamming
    )


def write_corpus(corpus: dict, out_dir: str) -> None:
    import zlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from wormpy_spark.fixtures.spark_tables import IMAGES_SCHEMA, TRUTH_SCHEMA, WEB_SCHEMA

    web = corpus["web"][[f.name for f in WEB_SCHEMA.fields]].copy()
    for col in ("body", "dynamic_body"):
        web[f"{col}_z"] = [
            None if v is None else zlib.compress(bytes(v), 1) for v in web[col]
        ]
        web = web.drop(columns=[col])
    tables = {
        "web": web,
        "images": corpus["images"][[f.name for f in IMAGES_SCHEMA.fields]],
        "images_truth": corpus["images_truth"][[f.name for f in TRUTH_SCHEMA.fields]],
    }
    for name, df in tables.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=2048,
        )


def oracle_crawl(corpus: dict) -> dict:
    """The reference crawl's order, plus what the verify tail needs to
    be checked on any prefix of it: the image behind each page that
    has one, and each such image's phash."""
    from wormpy_spark.functions.imageops import decode_image, phash64
    from wormpy_spark.oracle import crawl_oracle

    # the benchmark crawls without sitemaps, like bench_crawl
    oracle = crawl_oracle(
        {**corpus, "sitemaps": corpus["sitemaps"].iloc[0:0]},
        BASE_URL,
        budget=10**9,
        politeness_seed=POLITENESS_SEED,
    )
    if set(oracle.order) != oracle.seen:
        raise RuntimeError("oracle: the seen set is not the set of processed URLs")
    images = corpus["images"].set_index("image_id")
    web_image = dict(zip(corpus["web"]["url_norm"], corpus["web"]["image_id"]))
    image_of = {u: web_image[u] for u in oracle.order if web_image.get(u) in images.index}
    phash_of = {
        i: phash64(decode_image(bytes(images.at[i, "bytes"]), images.at[i, "fmt"]))
        for i in set(image_of.values())
    }
    return {"order": oracle.order, "image_of": image_of, "phash_of": phash_of}


def expected_prefix(oracle: dict, n: int) -> dict:
    """What a crawl that processed the first ``n`` pages of the oracle
    order must report."""
    order = oracle["order"][:n]
    images = sorted({oracle["image_of"][u] for u in order if u in oracle["image_of"]})
    return {
        "order_digest": digest(order),
        "seen_digest": digest(sorted(order)),
        "images": len(images),
        "neardup_pairs": popcount_pairs(
            [oracle["phash_of"][i] for i in images], NEARDUP_MAX_HAMMING
        ),
    }


def main(argv: list[str]) -> int:
    from wormpy_spark.fixtures.webgen import generate_corpus

    spec = json.loads(argv[0])
    t0 = time.time()
    corpus = generate_corpus(seed=spec["seed"], **spec["corpus"])
    write_corpus(corpus, spec["out_dir"])
    print(json.dumps(["written", {"web_rows": len(corpus["web"]), "corpus_s": time.time() - t0}]),
          flush=True)
    t1 = time.time()
    out = oracle_crawl(corpus)
    out["oracle_s"] = time.time() - t1
    print(json.dumps(["oracle", out]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""Seeded input generator for the benchmark workloads.

Everything a workload feeds the program is made here from the run's
seed: the same seed gives byte-identical files. Sizes are fixed per
workload so that seeds change the content, never the amount of work.

- ETL objects: gzip JSON-lines files of event records shaped like the
  `events` table (event_id, ts, user_id, event_type, value, props) and
  carrying the reference transform vocabulary: hostnames in three
  shapes, `booler` tokens, ISO timestamps, empty strings and a
  denormalized tag list.
- Corpus objects: gzip JSON-lines files of `documents` rows (doc_id,
  text, lang, source, n_chars) with seeded exact duplicates, near
  duplicates (word edits), repeated boilerplate lines, other-language
  and low-quality documents and test-split contamination,
  so every stage of the curation funnel has work on every seed.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import random
from dataclasses import dataclass, field

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
BOOL_TOKENS = ("yes", "y", "1", "true", "t", "no", "n", "0", "false", "f", "", "maybe")
TAGS = ("red", "green", "blue", "mobile", "desktop", "beta", "promo", "retry")
NOTES = ("first visit", "returning", "via partner", "bulk import")

STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr": ("le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans"),
}
BOILERPLATE = (
    "share this article with your friends and family today",
    "all rights reserved by the publisher of this site",
    "click here to subscribe to our weekly newsletter",
    "cookies help us deliver our services to you",
    "read more stories like this in the archive section",
    "this page was last updated by the editorial team",
)
# Small English-like vocabulary, as in the `documents` table: the
# curation pipeline's unigram LM and its fixed perplexity cut are
# tuned to text of this kind (survivors score ~5.1 bits per token).
VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "line sort window customer join small query data column order big "
    "group stream filter vector a"
).split()


def split_bucket(doc_id: int) -> int:
    """The curation pipeline's train/test bucket for a document id:
    md5_long(doc_id, seed 11) % 100 (functions/text.py)."""
    digest = hashlib.md5(f"11|{doc_id}".encode()).hexdigest()
    return int(digest[:15], 16) % 100


@dataclass
class InputSet:
    """Generated files of one workload plus their record and byte counts."""

    paths: list[str] = field(default_factory=list)
    records: int = 0
    bytes: int = 0
    stall: list[bool] = field(default_factory=list)  # per object
    rows_out: int = 0  # rows the model must load: one per tag, or one if none

    def add(self, path: str, rows: list[dict]) -> None:
        self.paths.append(path)
        self.records += len(rows)
        self.bytes += os.path.getsize(path)
        self.rows_out += sum(max(1, len(r.get("tags", ()))) for r in rows)


def _write_jsonl_gz(path: str, rows: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # mtime=0 keeps the bytes a function of the content alone
    with open(path, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as gz:
        for row in rows:
            gz.write((json.dumps(row, separators=(",", ":")) + "\n").encode())


def _event(rng: random.Random, event_id: int) -> dict:
    host = f"web{rng.randrange(40):02d}"
    shape = rng.randrange(3)
    if shape == 0:
        host = f"CORP\\{host}"
    elif shape == 1:
        host = f"{host}.corp.example.com"
    secs = event_id * 26 + rng.randrange(26)
    day, rem = divmod(secs, 86400)
    hour, rem = divmod(rem, 3600)
    minute, sec = divmod(rem, 60)
    tags = [] if rng.random() < 0.15 else rng.sample(TAGS, rng.randint(1, 3))
    return {
        "event_id": event_id,
        "ts": f"2024-01-{1 + day % 28:02d}T{hour:02d}:{minute:02d}:{sec:02d}.{rng.randrange(10**6):06d}",
        "user_id": rng.randrange(1500),
        "event_type": rng.choice(EVENT_TYPES),
        "value": round(rng.uniform(0.01, 500.0), 2),
        "props": json.dumps({"k": rng.randrange(100)}),
        "hostname": host,
        "active": None if rng.random() < 0.05 else rng.choice(BOOL_TOKENS),
        "note": "" if rng.random() < 0.4 else rng.choice(NOTES),
        "tags": tags,
    }


def etl_objects(
    out_dir: str, seed: int, n_objects: int, n_records: int, stall_share: float = 0.0
) -> InputSet:
    """`n_objects` gzip JSON-lines files of `n_records` event records
    each; `round(stall_share * n_objects)` of them, at seeded positions,
    are marked to stop after extract."""
    rng = random.Random(seed)
    inputs = InputSet()
    event_id = 0
    for i in range(n_objects):
        rows = []
        for _ in range(n_records):
            rows.append(_event(rng, event_id))
            event_id += 1
        path = os.path.join(out_dir, f"events_{i:03d}.jsonl.gz")
        _write_jsonl_gz(path, rows)
        inputs.add(path, rows)
    stalled = set(rng.sample(range(n_objects), round(stall_share * n_objects)))
    inputs.stall = [i in stalled for i in range(n_objects)]
    return inputs


def _prose_line(rng: random.Random, n_words: int, stopwords: tuple) -> str:
    words = []
    for _ in range(n_words):
        if rng.random() < 0.04:
            words.append(stopwords[0])
        words.append(rng.choice(VOCAB))
    return " ".join(words)


def _document(rng: random.Random, lang: str) -> str:
    lines = [_prose_line(rng, rng.randint(12, 24), STOPWORDS[lang]) for _ in range(rng.randint(3, 6))]
    if rng.random() < 0.35:
        lines.insert(rng.randrange(len(lines) + 1), rng.choice(BOILERPLATE))
    return "\n".join(lines)


def _near_duplicate(rng: random.Random, text: str) -> str:
    words = text.split(" ")
    for _ in range(max(1, len(words) // 40)):
        words[rng.randrange(len(words))] = rng.choice(VOCAB)
    return " ".join(words)


# Share of each document kind in every corpus object; the rest is plain
# English prose. Counts are fixed per object so seeds change content only.
CORPUS_MIX = (
    ("exact_dup", 0.06),
    ("near_dup", 0.10),
    ("other_lang", 0.12),
    ("low_quality", 0.06),
    ("contaminated", 0.06),
)


def _corpus_text(rng: random.Random, kind: str, texts: list, test_texts: list) -> tuple:
    if kind == "exact_dup" and texts:
        return rng.choice(texts), "en"
    if kind == "near_dup" and texts:
        return _near_duplicate(rng, rng.choice(texts)), "en"
    if kind == "other_lang":
        lang = rng.choice(("de", "fr"))
        return _document(rng, lang), lang
    if kind == "low_quality":
        return " , ".join(rng.choices(VOCAB, k=rng.randint(5, 15))), "en"
    if kind == "contaminated" and test_texts:
        # a passage of a held-out test document inside a train document
        words = rng.choice(test_texts).split()
        start = rng.randrange(max(1, len(words) - 10))
        return _document(rng, "en") + "\n" + " ".join(words[start:start + 10]), "en"
    return _document(rng, "en"), "en"


def corpus_objects(out_dir: str, seed: int, n_objects: int, n_docs: int) -> InputSet:
    """`n_objects` gzip JSON-lines files of `n_docs` documents each."""
    rng = random.Random(seed)
    texts: list[str] = []
    test_texts: list[str] = []
    inputs = InputSet()
    doc_id = 0
    for i in range(n_objects):
        kinds = [k for k, share in CORPUS_MIX for _ in range(round(share * n_docs))]
        kinds += ["plain"] * (n_docs - len(kinds))
        rng.shuffle(kinds)
        rows = []
        for kind in kinds:
            text, lang = _corpus_text(rng, kind, texts, test_texts)
            if split_bucket(doc_id) >= 90:
                test_texts.append(text)
            texts.append(text)
            rows.append(
                {
                    "doc_id": doc_id,
                    "text": text,
                    "lang": lang,
                    "source": f"src{rng.randrange(20)}",
                    "n_chars": len(text),
                }
            )
            doc_id += 1
        path = os.path.join(out_dir, f"documents_{i:03d}.jsonl.gz")
        _write_jsonl_gz(path, rows)
        inputs.add(path, rows)
    inputs.stall = [False] * n_objects
    return inputs

"""Seeded backlog generators for the drain-mode benchmark.

Each generator writes a fresh ``in/`` directory of input files, one file
per micro-batch, with strictly increasing mtimes (the file source orders
its backlog by mtime), and returns a manifest: the file list, the
expected outputs the checks compare against, and a SHA-256 over every
byte written (names and contents), so a seed's backlog can be shown to
be byte-identical across runs.  Pure Python and single-process: nothing
here touches Spark.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

# Base of the synthetic mtimes: files get BASE_MTIME + i seconds, so
# their order never depends on how fast the generator wrote them.
BASE_MTIME = 1_600_000_000


def _write_files(in_dir: str, batches: list[list[str]], digest) -> list[str]:
    os.makedirs(in_dir)
    paths = []
    for i, lines in enumerate(batches):
        name = f"batch-{i:05d}.json"
        body = ("\n".join(lines) + "\n").encode()
        path = os.path.join(in_dir, name)
        with open(path, "wb") as f:
            f.write(body)
        os.utime(path, (BASE_MTIME + i, BASE_MTIME + i))
        digest.update(name.encode() + b"\0" + body)
        paths.append(path)
    return paths


def _zipf_weights(n: int, s: float) -> list[float]:
    return [1.0 / (rank + 1) ** s for rank in range(n)]


# ---------------------------------------------------------- keyed window


def gen_keyed_window(
    root: str,
    seed: int,
    files: int,
    events_per_file: int,
    window_events: int,
    keys: int,
    zipf_s: float = 1.0,
    noise_share: float = 0.1,
) -> dict:
    """Events ``{"n": "m.<kind>", "d": {"k": <key>, "v": <0..99>}}``
    plus ``noise.*`` events the template's ``match/drop`` routes away.

    Matched events are drawn a whole window at a time: a Zipf-skewed
    key gets ``window_events`` events, so every key's total is a
    multiple of the window size and every buffer flushes on count.
    After the drain no event is left in state, and the window outputs
    must account for every matched event.  The events are then shuffled
    across the backlog, so a key's buffer spans many micro-batches."""
    rng = random.Random(seed)
    total = files * events_per_file
    n_windows = int(total * (1.0 - noise_share)) // window_events
    weights = _zipf_weights(keys, zipf_s)
    kinds = ("click", "view", "buy")
    lines: list[str] = []
    # key -> [events, sum of v]: what its windows must add up to
    expected: dict[str, list[int]] = {}
    for k in rng.choices(range(keys), weights=weights, k=n_windows):
        key = f"k{k:05d}"
        acc = expected.setdefault(key, [0, 0])
        for _ in range(window_events):
            v = rng.randrange(100)
            acc[0] += 1
            acc[1] += v
            lines.append(
                json.dumps(
                    {"n": f"m.{rng.choice(kinds)}", "d": {"k": key, "v": v}},
                    separators=(",", ":"),
                )
            )
    matched = len(lines)
    while len(lines) < total:
        lines.append(
            json.dumps(
                {"n": "noise.tick", "d": {"k": "k00000", "v": rng.randrange(100)}},
                separators=(",", ":"),
            )
        )
    rng.shuffle(lines)
    batches = [
        lines[i * events_per_file:(i + 1) * events_per_file] for i in range(files)
    ]
    digest = hashlib.sha256()
    paths = _write_files(os.path.join(root, "in"), batches, digest)
    return {
        "files": paths,
        "offered": total,
        "matched": matched,
        "windows": n_windows,
        "expected": expected,
        "sha256": digest.hexdigest(),
    }


# ------------------------------------------------------------ fold dedup


def _doc(rng: random.Random, vocab: list[str], length: int) -> list[str]:
    return [rng.choice(vocab) for _ in range(length)]


def _near_dup(rng: random.Random, tokens: list[str], vocab: list[str]) -> list[str]:
    """One token replaced: at 80 tokens the 3-shingle Jaccard to the
    original stays above 0.9, where 8x4 LSH bands miss with
    probability ~1e-5."""
    out = list(tokens)
    out[rng.randrange(len(out))] = rng.choice(vocab)
    return out


def gen_fold_dedup(
    root: str,
    seed: int,
    files: int,
    docs_per_file: int,
    corpus_docs: int,
    fold_every: int,
    dup_share: float = 0.3,
    doc_tokens: int = 80,
    vocab_size: int = 5000,
) -> dict:
    """A corpus (indexed in set-up) and a backlog of document batches.

    About ``dup_share`` of the streamed documents are planted near-
    duplicates: of a corpus document, or, once an increment has been
    folded, of a fresh document streamed in an earlier increment (the
    fold is what makes those findable).  Planted duplicates never copy
    a document of the still-open increment, whose survivors are not in
    the index yet, so every planted duplicate has exactly one expected
    target."""
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted(
        {"".join(rng.choices(letters, k=rng.randint(3, 9))) for _ in range(vocab_size)}
    )
    corpus = {i: _doc(rng, vocab, doc_tokens) for i in range(corpus_docs)}
    next_id = 1_000_000
    folded_fresh: list[int] = []
    open_fresh: list[int] = []
    texts: dict[int, list[str]] = dict(corpus)
    planted: dict[str, int] = {}
    fresh: list[int] = []
    batches: list[list[str]] = []
    for b in range(files):
        lines = []
        for _ in range(docs_per_file):
            doc_id = next_id
            next_id += 1
            if rng.random() < dup_share:
                pool = folded_fresh if folded_fresh and rng.random() < 0.5 else None
                target = rng.choice(pool) if pool else rng.randrange(corpus_docs)
                tokens = _near_dup(rng, texts[target], vocab)
                planted[str(doc_id)] = target
            else:
                tokens = _doc(rng, vocab, doc_tokens)
                texts[doc_id] = tokens
                open_fresh.append(doc_id)
                fresh.append(doc_id)
            lines.append(
                json.dumps({"doc_id": doc_id, "text": " ".join(tokens)}, separators=(",", ":"))
            )
        batches.append(lines)
        if (b + 1) % fold_every == 0:
            folded_fresh.extend(open_fresh)
            open_fresh = []
    digest = hashlib.sha256()
    corpus_path = os.path.join(root, "corpus.json")
    body = "".join(
        json.dumps({"doc_id": i, "text": " ".join(t)}, separators=(",", ":")) + "\n"
        for i, t in corpus.items()
    ).encode()
    os.makedirs(root, exist_ok=True)
    with open(corpus_path, "wb") as f:
        f.write(body)
    digest.update(b"corpus.json\0" + body)
    paths = _write_files(os.path.join(root, "in"), batches, digest)
    return {
        "files": paths,
        "corpus": corpus_path,
        "offered": files * docs_per_file,
        "planted": planted,
        "fresh": fresh,
        "folds": files // fold_every,
        "sha256": digest.hexdigest(),
    }


GENERATORS = {
    "tail_keyed_window": gen_keyed_window,
    "corpus_fold_dedup": gen_fold_dedup,
}


def generate(workload: str, root: str, seed: int, **params) -> dict:
    """Wipe ``root`` and write a fresh backlog for ``workload``."""
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    return GENERATORS[workload](root, seed, **params)

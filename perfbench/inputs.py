"""Benchmark inputs, made from the seed alone.

ER workloads: pages from the program's own corpus generator, written to
parquet; the generator's hidden ``entity_id`` is split off into the
benchmark's truth and never reaches the program.

near_dup: web-length documents built here (median ~2 KB, lognormal
tail) with planted re-crawl groups, plus per-document vectors with
planted near-duplicate vectors. The planted groups are the truth; the
generator checks that they clear each dedup family's threshold by a
margin while unrelated documents stay clearly below it.
"""

from __future__ import annotations

import itertools
import math
import random
import statistics
from dataclasses import dataclass

# thresholds the near_dup workload passes to the program; the truth
# checks below keep planted pairs and unrelated pairs well clear of them
MINHASH_THRESHOLD = 0.8
WINNOW_THRESHOLD = 0.5
COSINE_THRESHOLD = 0.95
SHINGLE = 5
VECTOR_DIM = 64

_SYLLABLES = (
    "ka ri to ne su ma lo pe di ga vu zo ch ar en is ul om tr st pl "
    "qu ex br gr fl wh th sh ne xi yo ze ba co fu hi ja ly mo nu "
).split()


def rid(i: int) -> str:
    """Record id the program's corpus generator gives row ``i``."""
    return f"r{i:09d}"


def write_er_inputs(spark, pages_mod, seed: int, sizes: list[int], warm: int, dest: str):
    """Generate ``sum(sizes)`` pages with the program's generator and
    write them as consecutive parquet batches (the first is the base
    corpus, the rest disjoint deltas), plus the first ``warm`` pages as
    the warm-up input. Returns (batch paths, warm-up path, truth
    record_id -> entity_id)."""
    total = sum(sizes)
    corpus = pages_mod.generate_corpus(
        spark, n_records=total, n_entities=max(2, total // 8), seed=seed
    )
    full_path = f"{dest}/corpus_full"
    corpus.write.mode("overwrite").parquet(full_path)
    full = spark.read.parquet(full_path)
    paths, lo = [], 0
    for name, start, n in [(f"pages_{k}", sum(sizes[:k]), n) for k, n in enumerate(sizes)] + [
        ("pages_warm", 0, warm)
    ]:
        path = f"{dest}/{name}"
        batch = full.filter((full.record_id >= rid(start)) & (full.record_id < rid(start + n)))
        pages_mod.pages_view(batch).write.mode("overwrite").parquet(path)
        paths.append(path)
    truth = [
        (r["record_id"], int(r["entity_id"]), r["person"] or "")
        for r in full.select("record_id", "entity_id", "person").collect()
    ]
    return paths[:-1], paths[-1], truth


def surname(person: str) -> str:
    """Surname of a generated name variant ("Sn, Gv, ..." or "Gv Sn")."""
    return person.split(",")[0].strip() if "," in person else person.split(" ")[-1]


def er_labeled_pairs(rows: list[tuple[str, int, str]]) -> dict[tuple[str, str], bool]:
    """Labeled pairs from the hidden entity ids of (record_id, entity_id,
    person) rows. Positives chain each entity's records in record-id
    order (n - 1 pairs per entity, so a giant entity weighs linearly,
    not quadratically). Hard negatives pair each record with the next
    record, in record-id order, that shares its surname but belongs to
    another entity. Keys are (id1, id2) with id1 < id2."""
    rows = sorted(rows)
    pairs: dict[tuple[str, str], bool] = {}
    last_of_entity: dict[int, str] = {}
    for rec, ent, _ in rows:
        if ent in last_of_entity:
            pairs[(last_of_entity[ent], rec)] = True
        last_of_entity[ent] = rec
    by_surname: dict[str, list[tuple[str, int]]] = {}
    for rec, ent, person in rows:
        by_surname.setdefault(surname(person), []).append((rec, ent))
    for group in by_surname.values():
        for i, (rec, ent) in enumerate(group):
            other = next((r for r, e in group[i + 1 :] if e != ent), None)
            if other is not None:
                pairs.setdefault((rec, other), False)
    return pairs


# -- near_dup documents ----------------------------------------------------


@dataclass
class NearDupCorpus:
    docs: list[tuple[str, str]]  # (doc_id, text)
    vectors: list[tuple[str, list[float]]]  # (doc_id, vector)
    truth: set[tuple[str, str]]  # planted pairs, id1 < id2


def shingles(text: str, k: int = SHINGLE) -> set[str]:
    return {text[i : i + k] for i in range(max(1, len(text) - k + 1))}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def cosine(u: list[float], v: list[float]) -> float:
    dot = sum(x * y for x, y in zip(u, v))
    return dot / math.sqrt(sum(x * x for x in u) * sum(y * y for y in v))


def _vocab(rng: random.Random, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(1, 4))))
    return sorted(words)


def _page_words(rng: random.Random, vocab: list[str], cum: list[float], n_chars: int):
    words, size = [], 0
    while size < n_chars:
        w = rng.choices(vocab, cum_weights=cum)[0]
        words.append(w)
        size += len(w) + 1
    return words


def _recrawl(rng: random.Random, words: list[str], vocab: list[str], rate: float) -> str:
    """A re-crawl of a page: a few words changed (ads, counters, dates)."""
    out = list(words)
    for _ in range(max(1, round(rate * len(out)))):
        out[rng.randrange(len(out))] = rng.choice(vocab)
    return " ".join(out)


# re-crawl group sizes, repeated in this proportion: of every ten
# pages, seven are unique, two are crawled twice and one three times
_GROUP_SIZES = (1, 1, 1, 1, 1, 1, 1, 2, 2, 3)


def near_dup_corpus(
    seed: int,
    n_docs: int,
    median_chars: int = 2048,
    sigma: float = 0.7,
    max_chars: int = 16384,
    edit_rate: float = 0.015,
) -> NearDupCorpus:
    """Pages with re-crawl group sizes in the proportion of _GROUP_SIZES
    and lengths at the lognormal quantiles, both in an order the seed
    shuffles, over a fixed vocabulary: the seed changes the text and
    which page is long or duplicated, not the total work (winnow's cost
    grows with the square of page length, so sampled lengths would
    swing it from seed to seed). The length tail ``sigma``, the
    re-crawl mix, ``edit_rate`` and the vocabulary's Zipf exponent are
    assumptions, not fitted to a crawl: see README.md."""
    # one vocabulary for every seed: which words are frequent (and how
    # long they are) sets the shingle and fingerprint skew
    vocab = _vocab(random.Random("near_dup:vocabulary"), 8000)
    rng = random.Random(f"near_dup:{seed}")
    cum = list(itertools.accumulate(1.0 / (r + 1) ** 1.05 for r in range(len(vocab))))
    sizes: list[int] = []
    while sum(sizes) < n_docs:
        sizes.append(min(_GROUP_SIZES[len(sizes) % len(_GROUP_SIZES)], n_docs - sum(sizes)))
    dist = statistics.NormalDist(math.log(median_chars), sigma)
    groups = [
        (size, min(max_chars, max(256, int(math.exp(dist.inv_cdf((i + 0.5) / len(sizes)))))))
        for i, size in enumerate(sizes)
    ]
    rng.shuffle(groups)
    pages: list[list[str]] = []
    for size, n_chars in groups:
        words = _page_words(rng, vocab, cum, n_chars)
        pages.append([" ".join(words)] + [_recrawl(rng, words, vocab, edit_rate) for _ in range(size - 1)])
    order = list(range(n_docs))
    rng.shuffle(order)  # planted copies get unrelated, non-adjacent ids
    ids = [f"d{k:06d}" for k in order]
    docs, vectors, truth = [], [], set()
    i = 0
    for members in pages:
        base = [rng.gauss(0.0, 1.0) for _ in range(VECTOR_DIM)]
        gids = ids[i : i + len(members)]
        for j, text in enumerate(members):
            vec = base if j == 0 else [x + rng.gauss(0.0, 0.08) for x in base]
            docs.append((gids[j], text))
            vectors.append((gids[j], vec))
        truth.update((min(a, b), max(a, b)) for a in gids for b in gids if a < b)
        i += len(members)
    docs.sort()
    vectors.sort()
    corpus = NearDupCorpus(docs, vectors, truth)
    check_near_dup_truth(corpus, rng)
    return corpus


def check_near_dup_truth(corpus: NearDupCorpus, rng: random.Random, sample: int = 200) -> None:
    """Planted pairs must clear every family's threshold by a margin and
    a sample of unrelated pairs must stay clearly below the lowest one;
    raises ValueError otherwise (the truth would not be trustworthy)."""
    text = dict(corpus.docs)
    vec = dict(corpus.vectors)
    planted = sorted(corpus.truth)
    for a, b in planted[:sample]:
        j = jaccard(shingles(text[a]), shingles(text[b]))
        c = cosine(vec[a], vec[b])
        if j < MINHASH_THRESHOLD + 0.04 or c < COSINE_THRESHOLD + 0.01:
            raise ValueError(f"planted pair {a},{b} too weak: jaccard {j:.3f} cosine {c:.3f}")
    ids = [d for d, _ in corpus.docs]
    for _ in range(sample):
        a, b = sorted(rng.sample(ids, 2))
        if (a, b) in corpus.truth:
            continue
        j = jaccard(shingles(text[a]), shingles(text[b]))
        c = cosine(vec[a], vec[b])
        if j > WINNOW_THRESHOLD - 0.15 or c > COSINE_THRESHOLD - 0.2:
            raise ValueError(f"unrelated pair {a},{b} too close: jaccard {j:.3f} cosine {c:.3f}")

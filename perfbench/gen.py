"""Seeded input generator for the graft benchmark.

Everything the program sees is written here, from the seed alone, as
NDJSON batch files. The generator also knows what a correct program
must output for each batch, because it plants that output:

* Listings. Every ordinary listing has the same price ``P``, so inside
  any market segment or component group the ordinary listings sit at
  the group's top price and never score a negative z. Planted cheap
  listings (a small share, at 6-20% of ``P``) are the only low prices,
  so every group they fall in scores them far below -1.5, and planted
  contact listings ("whatsapp" or a 6xxxxxxxx number) score the
  External Contact points. Either crosses the alert threshold, nothing
  else does: the expected alerts are exactly the planted ids.
  Symbolic-price listings (price 1) carry their real price ``P`` in the
  text, so the hidden-price path recovers an ordinary listing.
* Documents. Novel documents are random word sequences over a large
  synthetic vocabulary; planted near-duplicates copy a novel document
  of the same batch (with a higher id) or of an earlier batch, with a
  one-word edit. The expected accepted documents are the novel ones.
"""
import json
import os
import random

MASK = (1 << 64) - 1


def id_hash(ids):
    """Order-independent hash of ids; the JVM side computes the same."""
    acc = 0
    for x in ids:
        z = (x + 0x9E3779B97F4A7C15) & MASK
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK
        acc = (acc + (z ^ (z >> 31))) & MASK
    return acc


# (title template, cpu choices, gpu choices, ram choices); few choices
# per category keep every component group large enough that a planted
# cheap listing always stands out in it.
CATEGORIES = {
    "gaming": ("portatil gaming {brand} {cpu} {gpu} {ram}gb ram",
               ["intel i7 12700h", "amd ryzen 7 5800h", "intel i5 11400h"],
               ["rtx 3060", "rtx 4060"], [16, 32]),
    "apple": ("macbook air apple {cpu} {ram}gb", ["m1", "m2"], [None], [8, 16]),
    "workstation": ("portatil thinkpad {cpu} {ram}gb",
                    ["intel i5 8350u", "intel i7 8650u"], [None], [8, 16]),
    "chromebook": ("chromebook {cpu} {ram}gb",
                   ["intel celeron n4020", "intel pentium n5030"], [None], [4, 8]),
    "ultrabook": ("portatil xps 13 {cpu} {ram}gb",
                  ["intel i7 1165g7", "intel i5 1135g7"], [None], [16, 32]),
}
GAMING_BRANDS = ["asus rog", "msi", "lenovo legion"]
CONDITION_PHRASES = {
    "NEW": ["nuevo precintado con factura", "a estrenar con garantia"],
    "LIKE_NEW": ["impecable", "en perfecto estado"],
    "USED": [""],
    "BROKEN": ["no enciende", "para piezas"],
}
# filler words that match none of the condition, contact, category or
# price patterns
FILLER = ("portatil en buen estado funciona correctamente bateria dura "
          "horas teclado pantalla envio disponible entrega mano zona centro "
          "cargador incluido original limpio rapido ideal estudiantes "
          "trabajo oficina diario bien cuidado ligero silencioso").split()


def _share(rng, lo, hi):
    return round(rng.uniform(lo, hi), 4)


def _sizes(rng, base, spread, n):
    """n batch sizes around base; the same multiset for every seed, in a
    seed-dependent order, so runs with different seeds do equal work."""
    if n == 1:
        return [base]
    sizes = [round(base * (1 - spread + 2 * spread * i / (n - 1))) for i in range(n)]
    rng.shuffle(sizes)
    return sizes


def listing_params(seed):
    rng = random.Random(f"listings-params-{seed}")
    cats = {c: rng.uniform(0.6, 1.4) for c in CATEGORIES}
    total = sum(cats.values())
    conds = {"NEW": rng.uniform(0.2, 0.3), "LIKE_NEW": rng.uniform(0.2, 0.3),
             "USED": rng.uniform(0.3, 0.45), "BROKEN": rng.uniform(0.02, 0.06)}
    ctotal = sum(conds.values())
    return {
        "price": round(rng.uniform(650, 1150), 2),
        "planted_share": _share(rng, 0.02, 0.04),
        "contact_share": _share(rng, 0.01, 0.03),
        "symbolic_share": _share(rng, 0.02, 0.06),
        "desc_words": rng.randint(6, 18),
        "category_mix": {c: round(v / total, 4) for c, v in cats.items()},
        "condition_mix": {c: round(v / ctotal, 4) for c, v in conds.items()},
    }


def _pick(rng, mix):
    r = rng.random()
    for k, w in mix.items():
        r -= w
        if r < 0:
            return k
    return k


def listing_batch(rng, p, first_id, n):
    """One batch of listings and the ids it must alert on."""
    rows, alerts = [], []
    for item_id in range(first_id, first_id + n):
        cat = _pick(rng, p["category_mix"])
        tmpl, cpus, gpus, rams = CATEGORIES[cat]
        title = tmpl.format(brand=rng.choice(GAMING_BRANDS), cpu=rng.choice(cpus),
                            gpu=rng.choice(gpus), ram=rng.choice(rams))
        r = rng.random()
        planted = r < p["planted_share"]
        contact = not planted and r < p["planted_share"] + p["contact_share"]
        cond = _pick(rng, p["condition_mix"])
        if planted and cond == "BROKEN":
            # a broken listing is never a market-stats input, so its
            # price cannot be judged against one
            cond = "USED"
        words = [rng.choice(CONDITION_PHRASES[cond])]
        words += rng.choices(FILLER, k=rng.randint(p["desc_words"] // 2, p["desc_words"] * 3 // 2))
        price = p["price"]
        if planted:
            price = round(p["price"] * rng.uniform(0.06, 0.2), 2)
        elif rng.random() < p["symbolic_share"]:
            price = 1.0
            words.insert(rng.randint(0, len(words)), f"vendo por {int(p['price'])} euros")
        if contact:
            words.append(rng.choice(["contacto por whatsapp",
                                     f"llama al 6{rng.randrange(10 ** 8):08d}"]))
        if planted or contact:
            alerts.append(item_id)
        rows.append({"item_id": item_id, "title": title,
                     "description": " ".join(w for w in words if w), "price": price})
    return rows, alerts


def _vocab(size=6000):
    rng = random.Random("graft-perfbench-vocab")
    onset, vowel, coda = "bcdfgjklmnprstvz", "aeiou", ["", "", "n", "r", "s", "l"]
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(onset) + rng.choice(vowel) + rng.choice(coda)
                          for _ in range(rng.randint(2, 4))))
    return sorted(words)


VOCAB = _vocab()


def doc_params(seed):
    rng = random.Random(f"docs-params-{seed}")
    lo = rng.randint(28, 34)
    return {"inner_dup_share": _share(rng, 0.08, 0.12),
            "cross_dup_share": _share(rng, 0.08, 0.12),
            "doc_words": [lo, lo + rng.randint(30, 40)]}


def doc_batch(rng, p, first_id, n, earlier):
    """One trigger's documents and the ids the gate must accept.
    `earlier` holds novel texts of previous batches of the same stream
    and is extended with this batch's."""
    n_inner = round(n * p["inner_dup_share"])
    n_cross = round(n * p["cross_dup_share"]) if earlier else 0
    n_novel = n - n_inner - n_cross
    lo, hi = p["doc_words"]
    novel = [rng.choices(VOCAB, k=rng.randint(lo, hi)) for _ in range(n_novel)]

    def near(words):
        w = list(words)
        w[rng.randrange(len(w))] = rng.choice(VOCAB)
        return w

    dups = [near(rng.choice(novel)) for _ in range(n_inner)]
    dups += [near(rng.choice(earlier)) for _ in range(n_cross)]
    # novel docs take the lower ids, so a within-batch pair always
    # drops the copy
    texts = novel + dups
    rows = [{"doc_id": first_id + i, "text": " ".join(t)} for i, t in enumerate(texts)]
    rng.shuffle(rows)
    earlier.extend(novel)
    return rows, list(range(first_id, first_id + n_novel))


def write_inputs(out_dir, kind, seed, warm_sizes, timed_sizes, spread):
    """Write input/warm and input/timed batch files. Returns the
    generator parameters and, per timed batch, its row count and the
    expected (count, hash) of its output."""
    params = listing_params(seed) if kind == "listings" else doc_params(seed)
    expected = []
    for phase, (base, n) in (("warm", warm_sizes), ("timed", timed_sizes)):
        rng = random.Random(f"{kind}-{phase}-{seed}")
        d = os.path.join(out_dir, "input", phase)
        os.makedirs(d)
        next_id = 1 if phase == "timed" else 1_000_000_000
        earlier = []
        for i, size in enumerate(_sizes(rng, base, spread, n)):
            if kind == "listings":
                rows, out = listing_batch(rng, params, next_id, size)
            else:
                rows, out = doc_batch(rng, params, next_id, size, earlier)
            next_id += size
            with open(os.path.join(d, f"b{i:05d}.json"), "w") as f:
                f.write("\n".join(json.dumps(r) for r in rows) + "\n")
            if phase == "timed":
                expected.append({"rows": size, "count": len(out), "hash": id_hash(out)})
    return params, expected

"""Seeded input generators for the engine-verb benchmark.

Everything here is a pure function of its seed: the same seed writes the
same bytes and the same manifest. The engine only ever sees the files (or
the corpus) these functions write; the manifest carries the known answers
graftbench.Main checks every timed operation against.

- code_tree:     a Python/Markdown/JSON/YAML source tree with planted call
                 chains, one unique identifier per function, and whole-file
                 duplicate bodies.
- edit_script:   the writes of the traced run's write probe (a modify through
                 an incremental index pass, a delete through a watch batch),
                 with the answer each read-after-write must see.
- query_stream:  the Zipf-skewed query stream of the query-mix workload.
- corpus:        the curation corpus with planted exact copies, one-word
                 near-duplicates, boilerplate templates and non-English docs.
"""

import json
import os
import random

# Word lists. Doc words feed docstrings and Markdown; the English corpus words
# double as the stopword evidence the curation funnel's language guess uses.
VERBS = ["load", "parse", "merge", "score", "build", "split", "flush", "index",
         "fetch", "render", "encode", "decode", "scan", "rank", "group", "sort",
         "emit", "check", "resolve", "compact"]
NOUNS = ["ledger", "chunk", "token", "vector", "record", "batch", "graph",
         "entity", "cursor", "buffer", "schema", "column", "bucket", "window",
         "shard", "digest", "config", "session", "report", "filter"]
DOC_WORDS = ["incremental", "partition", "metadata", "relation", "embedding",
             "snapshot", "watermark", "fragment", "checksum", "manifest",
             "pipeline", "coalesce", "posting", "catalog", "lineage", "replica",
             "threshold", "histogram", "sampler", "quorum", "journal", "payload",
             "registry", "tokenizer", "scheduler", "allocator", "cache", "frontier"]
EN_STOP = ["the", "and", "of", "is", "to", "in", "it"]
EN_WORDS = ["system", "data", "model", "value", "result", "process", "method",
            "change", "number", "table", "group", "order", "water", "river",
            "market", "garden", "letter", "window", "morning", "village",
            "history", "science", "music", "family", "station", "bridge",
            "forest", "winter", "summer", "teacher", "student", "machine",
            "picture", "question", "answer", "country", "mountain", "engine",
            "library", "kitchen", "planet", "signal", "harbor", "journey",
            "pattern", "measure", "balance", "surface", "climate", "harvest"]
DE_WORDS = ["der", "die", "das", "und", "ist", "nicht", "ein", "haus", "wasser",
            "zeit", "stadt", "arbeit", "schule", "strasse", "garten", "fenster"]
FR_WORDS = ["le", "la", "les", "et", "est", "de", "que", "maison", "temps",
            "ville", "travail", "jardin", "fenetre", "rue", "ecole", "pain"]

UID_CHARS = "bcdfghjkmnpqrstvwxz"


def uid(rng, used):
    """A fresh 6-letter token found nowhere else in the generated inputs
    (consonants only, so it never forms an English/German/French word)."""
    while True:
        u = "q" + "".join(rng.choice(UID_CHARS) for _ in range(5))
        if u not in used:
            used.add(u)
            return u


def _doc_sentence(rng, n):
    return " ".join(rng.choice(DOC_WORDS) for _ in range(n))


def function_source(name, callee, rng):
    """One top-level function. `callee`, when set, is called from the body,
    which plants a `calls` edge name -> callee."""
    lines = [f"def {name}(data, limit=10):",
             f'    """{_doc_sentence(rng, 6)}."""',
             "    total = 0",
             "    for item in data[:limit]:",
             f"        total += len(str(item)) * {rng.randint(2, 97)}"]
    if callee:
        lines.append(f"    total += {callee}(data, limit)")
    lines.append("    return total")
    return "\n".join(lines) + "\n"


def python_file(funcs, rng):
    """funcs: list of (name, callee-or-None)."""
    head = f'"""{_doc_sentence(rng, 8)}."""\n\nimport os\n\n'
    const = f"LIMIT_{rng.randint(100, 999)} = {rng.randint(1, 1000)}\n\n\n"
    return head + const + "\n\n".join(function_source(n, c, rng) for n, c in funcs)


def markdown_file(rng):
    parts = [f"# {rng.choice(NOUNS).title()} {rng.choice(DOC_WORDS)}\n"]
    for _ in range(rng.randint(2, 4)):
        parts.append(f"## {rng.choice(VERBS).title()} the {rng.choice(NOUNS)}\n")
        parts.append(_doc_sentence(rng, rng.randint(20, 40)) + ".\n")
    return "\n".join(parts)


def config_file(ext, rng):
    keys = {f"{rng.choice(NOUNS)}_{i}": rng.randint(1, 10000) for i in range(rng.randint(3, 8))}
    if ext == "json":
        return json.dumps({"name": rng.choice(DOC_WORDS), "settings": keys}, indent=2, sort_keys=True) + "\n"
    return "name: " + rng.choice(DOC_WORDS) + "\nsettings:\n" + "".join(
        f"  {k}: {v}\n" for k, v in sorted(keys.items()))


def code_tree(root, seed, n_files, n_edit_files=0):
    """Write a source tree of ~n_files files under root; return its manifest.

    Mix: 80% Python, 16% Markdown, 4% JSON/YAML. About 10% of the Python
    files are byte copies of another Python file at a different path (their
    chunks share content hashes, so the index reuses their embeddings).
    Functions form call chains of length 4 (f0 -> f1 -> f2 -> f3), so every
    chain member but the last has one known `calls` edge. Every function name
    ends in a unique token, which makes it a known-item query.

    `n_edit_files` extra files under `edits/` hold one editable function each,
    calling a stable chain function; only the edit script touches them.
    """
    rng = random.Random(seed)
    used = set()
    n_py = int(n_files * 0.80)
    n_md = int(n_files * 0.16)
    n_cfg = n_files - n_py - n_md
    n_dup = n_py // 10
    n_orig = n_py - n_dup

    # functions, grouped into files of 2-4, then chained across the list
    funcs_per_file = [rng.randint(2, 4) for _ in range(n_orig)]
    names = [f"{rng.choice(VERBS)}_{rng.choice(NOUNS)}_{uid(rng, used)}"
             for _ in range(sum(funcs_per_file))]
    callee = {}
    for i, name in enumerate(names):
        callee[name] = names[i + 1] if i % 4 != 3 and i + 1 < len(names) else None

    files = {}
    py_files = []
    fn_file = {}
    k = 0
    for i, nf in enumerate(funcs_per_file):
        path = f"pkg_{i % 25:02d}/mod_{i:05d}.py"
        fs = names[k:k + nf]
        k += nf
        files[path] = python_file([(n, callee[n]) for n in fs], rng)
        py_files.append((path, fs))
        for n in fs:
            fn_file[n] = path
    dup_src = rng.sample(range(n_orig), n_dup)
    duplicated = set()
    for j, src in enumerate(dup_src):
        path, fs = py_files[src]
        files[f"vendor/copy_{j:05d}.py"] = files[path]
        duplicated.update(fs)
    for i in range(n_md):
        files[f"docs/section_{i % 10}/page_{i:05d}.md"] = markdown_file(rng)
    for i in range(n_cfg):
        ext = "json" if i % 2 == 0 else "yaml"
        files[f"conf/settings_{i:05d}.{ext}"] = config_file(ext, rng)

    # stable functions: unique (never copied) and the caller of a known edge
    stable = [n for n in names if n not in duplicated and callee[n] is not None]
    edit_files = {}
    for i in range(n_edit_files):
        path = f"edits/e_{i:04d}.py"
        fn = f"edit_{rng.choice(NOUNS)}_{uid(rng, used)}"
        target = rng.choice(stable)
        edit_files[path] = {"fn": fn, "callee": target}
        files[path] = python_file([(fn, target)], rng)

    for path, content in files.items():
        full = os.path.join(root, path)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "w", encoding="utf-8") as f:
            f.write(content)
    return {
        "files": len(files),
        "source_bytes": sum(len(c.encode("utf-8")) for c in files.values()),
        "stable": [{"name": n, "callee": callee[n], "path": fn_file[n]} for n in stable],
        "edit_files": edit_files,
        "used_uids": sorted(used),
    }


def edit_script(tree, seed):
    """The write probe's edits: a one-function modify applied on disk and
    picked up by an incremental index pass, then the delete of another
    edit file delivered as a watch batch. Each carries what a read right
    after it must see (`expect`, with its known callee) or must no longer
    see (`gone`)."""
    rng = random.Random(seed * 7919 + 1)
    used = set(tree["used_uids"])
    paths = sorted(tree["edit_files"])
    stable = [s["name"] for s in tree["stable"]]
    fn = f"edit_{rng.choice(NOUNS)}_{uid(rng, used)}"
    target = rng.choice(stable)
    return [
        {"kind": "modify", "via": "index", "path": paths[0],
         "content": python_file([(fn, target)], rng), "expect": fn, "callee": target,
         "gone": tree["edit_files"][paths[0]]["fn"]},
        {"kind": "delete", "via": "watch", "path": paths[1],
         "gone": tree["edit_files"][paths[1]]["fn"]},
    ]


# One cycle of the query stream: 25% semantic, 20% keyword, 30% hybrid and
# 25% graph reads, interleaved. A fixed cycle (rather than a random draw per
# op) keeps every run's mode mix exact, so per-run numbers do not move with
# which modes happened to be drawn.
CYCLE = ["semantic", "hybrid", "graph", "keyword", "hybrid", "semantic", "graph",
         "hybrid", "keyword", "semantic", "graph", "hybrid", "semantic", "keyword",
         "graph", "hybrid", "semantic", "graph", "keyword", "hybrid"]
GRAPH_READS = ["relationships", "smart", "entities_for_file", "implementation"]


def query_stream(tree, seed, pool_size, length, zipf_s=1.3):
    """A pool of `pool_size` stable functions (each with a known answer:
    its own entity, its file, its known callee), the untimed warm-up ops
    (two rounds of one call per search mode and graph read, on the two most
    popular entries) and a
    stream of `length` ops. Modes follow CYCLE; pool entries are drawn
    Zipf-like (weight 1/rank^s), so popular queries repeat the way an
    interactive session refines and re-asks. Graph ops rotate over
    GRAPH_READS: readGraph relationships and smart, entitiesForFile,
    getImplementation."""
    rng = random.Random(seed * 104729 + 3)
    pool = rng.sample(tree["stable"], min(pool_size, len(tree["stable"])))
    weights = [1.0 / (i + 1) ** zipf_s for i in range(len(pool))]
    ops = []
    n_graph = 0
    for i in range(length):
        op = {"mode": CYCLE[i % len(CYCLE)], "entry": rng.choices(range(len(pool)), weights)[0]}
        if op["mode"] == "graph":
            op["graph"] = GRAPH_READS[n_graph % len(GRAPH_READS)]
            n_graph += 1
        ops.append(op)
    warmup = []
    for entry in (0, 1):
        warmup += [{"mode": m, "entry": entry} for m in ("semantic", "keyword", "hybrid")]
        warmup += [{"mode": "graph", "entry": entry, "graph": g} for g in GRAPH_READS]
    return {"pool": pool, "warmup": warmup, "ops": ops}


def _en_doc(rng, n_words):
    words = []
    for _ in range(n_words):
        words.append(rng.choice(EN_STOP) if rng.random() < 0.25 else rng.choice(EN_WORDS))
    return " ".join(words)


def corpus(seed, n_docs, words_per_doc=120):
    """The curation corpus: list of {"id", "text"} plus its planted facts.

    Plants: 8% exact copies of an earlier doc; 8% one-word near-duplicates
    (one word replaced, so word-3-shingle Jaccard stays near 0.9); 6%
    boilerplate docs that share a long template and differ in a short tail;
    8% German/French docs. The rest are independent English docs."""
    rng = random.Random(seed * 15485863 + 5)
    docs = []
    near_pairs = []
    n_exact = 0
    templates = [_en_doc(rng, words_per_doc - 10) for _ in range(3)]
    for i in range(n_docs):
        roll = rng.random()
        originals = [d for d in docs[-200:] if d.get("kind") == "en"]
        if roll < 0.08 and originals:
            src = rng.choice(originals)
            docs.append({"id": i, "text": src["text"], "kind": "exact"})
            n_exact += 1
        elif roll < 0.16 and originals:
            src = rng.choice(originals)
            words = src["text"].split(" ")
            j = rng.randrange(len(words))
            words[j] = rng.choice([w for w in EN_WORDS if w != words[j]])
            docs.append({"id": i, "text": " ".join(words), "kind": "near"})
            near_pairs.append([src["id"], i])
        elif roll < 0.22:
            docs.append({"id": i, "text": rng.choice(templates) + " " + _en_doc(rng, 10),
                         "kind": "boilerplate"})
        elif roll < 0.30:
            words = DE_WORDS if rng.random() < 0.5 else FR_WORDS
            docs.append({"id": i, "text": " ".join(rng.choice(words) for _ in range(words_per_doc)),
                         "kind": "foreign"})
        else:
            docs.append({"id": i, "text": _en_doc(rng, words_per_doc), "kind": "en"})
    distinct = len({d["text"] for d in docs})
    return {"docs": [{"id": d["id"], "text": d["text"]} for d in docs],
            "near_pairs": near_pairs, "distinct_texts": distinct,
            "exact_copies": n_exact, "stopwords": EN_STOP}

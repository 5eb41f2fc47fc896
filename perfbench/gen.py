"""Seeded inputs and expected outputs for the three workloads.

Every generator takes a `random.Random` built from the benchmark seed, so
the same seed gives byte-identical inputs. Expected values are computed
here from the generated records with the engine's documented transform
semantics (Ops.cleanText / trimWhitespace / normalizeFields /
removeHtmlTags), never by running the engine.
"""
import hashlib
import json
import re

WORDS = ("the of and to in is that for it as was with be by on not he this are "
         "or his from at which but have an they you were her she there been one "
         "all we their has would when if so no will can more other what time "
         "data spark value table stream batch query join filter order window "
         "record sequence pipeline export source sink format field column row "
         "market river garden winter summer letter number system energy "
         "history science village station morning evening picture question "
         "journey account balance capital country distance harvest library "
         "machine network pattern quality reason signal surface traffic "
         "weather").split()

# Java's `\s` (ASCII whitespace); Python's `\s` also matches Unicode spaces.
_EDGE_WS = re.compile(r"^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$")
_TAG = re.compile(r"<[^>]*>")


def trim_ws(s):
    return _EDGE_WS.sub("", s)


def clean_text(s):
    """Ops.cleanText: edge-trim, then every newline becomes a space."""
    return trim_ws(s).replace("\n", " ")


def strip_tags(s):
    return _TAG.sub("", s)


def fingerprint(rows):
    """Order-independent fingerprint: sum of per-row 64-bit hashes mod 2^64
    over the rows' canonical `|`-joined string forms."""
    acc = 0
    for r in rows:
        h = hashlib.blake2b("|".join(r).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) & 0xFFFFFFFFFFFFFFFF
    return f"{acc:016x}"


def sentence(rng, lo, hi):
    return " ".join(rng.choices(WORDS, k=rng.randint(lo, hi)))


def messy(rng, text):
    """Edge whitespace and an interior newline, as a scraped API field has."""
    pad = ("", " ", "  ", "\t", "\n ")
    words = text.split(" ")
    if len(words) > 3 and rng.random() < 0.5:
        i = rng.randint(1, len(words) - 1)
        words[i] = "\n" + words[i]
    return rng.choice(pad) + " ".join(words) + rng.choice(pad)


# ---------------------------------------------------------------- etl_api

def gen_api(rng, n_posts, n_users, todos_per_user):
    """Stub routes for the API sequence plus the expected sink contents."""
    token = "%032x" % rng.getrandbits(128)
    posts, post_rows = [], {}
    for pid in range(1, n_posts + 1):
        title = sentence(rng, 3, 8).title()
        body = sentence(rng, 20, 60)
        p = {"id": pid, "userId": rng.randint(1, n_users),
             "title": messy(rng, title), "body": messy(rng, body)}
        posts.append(p)
        post_rows[pid] = (str(pid), clean_text(p["title"]).lower(),
                          clean_text(p["body"]), str(p["userId"]))
    # about 5% exact re-sends of earlier posts: dedup on post_id drops them
    posts += [dict(rng.choice(posts)) for _ in range(n_posts // 20)]
    rng.shuffle(posts)

    users, todo_routes, todos = [], {}, []
    next_todo = 1
    for uid in range(1, n_users + 1):
        users.append({"id": uid, "name": sentence(rng, 2, 2).title(),
                      "username": f"user{uid}", "email": f"user{uid}@example.org",
                      "company": sentence(rng, 1, 3)})
        mine = []
        for _ in range(rng.randint(*todos_per_user)):
            mine.append({"id": next_todo, "userId": uid, "title": sentence(rng, 3, 7),
                         "completed": rng.random() < 0.4})
            next_todo += 1
        todos += mine
        todo_routes[f"/users/{uid}/todos"] = json.dumps(mine)
    rng.shuffle(users)

    routes = {"/auth/token": json.dumps({"token": token, "expires_in": 3600}),
              "/posts": json.dumps(posts), "/users": json.dumps(users)}
    routes.update(todo_routes)
    n_todos = len(todos)
    todo_rows = [(str(t["id"]), str(t["userId"]), t["title"]) for t in todos]
    indexed = [(str(t["id"]), str(i)) for i, t in enumerate(todos)]  # ids ascend
    expect = {
        "planned_calls": 3 + n_users,
        "posts": {"rows": len(post_rows), "fp": fingerprint(post_rows.values())},
        "users": {"rows": n_users, "fp": fingerprint(
            (str(u["id"]), u["username"]) for u in users)},
        "todos": {"rows": n_todos, "fp": fingerprint(todo_rows)},
        "todo_index": {"rows": n_todos, "fp": fingerprint(indexed)},
        # combined = auth (1) + posts + users + todos + indexed todos
        "combined_rows": 1 + len(post_rows) + n_users + 2 * n_todos,
    }
    stamp = {"input_rows": len(posts) + n_users + n_todos + 1,
             "input_bytes": sum(len(b) for b in routes.values()),
             "duplicate_share": round((len(posts) - n_posts) / len(posts), 4)}
    return {"token": token, "routes": routes}, expect, stamp


# ---------------------------------------------------------------- etl_file_bulk

COUNTRIES = ("US", "DE", "FR", "JP", "BR", "IN", "GB", "NG")
STATUSES = ("active", "active", "active", "pending", "pending", "deleted", "suspended")
TIERS = ("gold", "silver", "silver", "bronze", "bronze", "bronze", "bronze", "bronze",
         "bronze", "bronze")
TAGS = (("<b>", "</b>"), ("<i>", "</i>"), ('<a href="/x">', "</a>"), ("<p>", "</p>"))


def html(rng, text):
    """Wrap one word run in a tag pair, as scraped markup leaves it."""
    words = text.split(" ")
    i = rng.randrange(len(words))
    o, c = rng.choice(TAGS)
    words[i] = o + words[i] + c
    return " ".join(words)


def gen_bulk(rng, n_events, path):
    """NDJSON events with nested fields, ~10% duplicate keys (exact
    re-sends), markup and edge whitespace in strings. Strings are drawn
    from seeded pools (with their expected cleaned forms), which keeps
    generation fast at data volume. Returns the expected ingest rows
    (canonical tuples in ingest column order), the line count and the
    duplicate share."""
    def pool(lo, hi):
        raw = [messy(rng, html(rng, sentence(rng, lo, hi))) for _ in range(4096)]
        return [(r, strip_tags(clean_text(r))) for r in raw]
    titles, notes = pool(3, 8), pool(8, 24)
    names = [sentence(rng, 2, 2).title() for _ in range(512)]
    r = rng.random
    lines, kept = [], []
    for eid in range(1, n_events + 1):
        title, note = titles[int(r() * 4096)], notes[int(r() * 4096)]
        uid = 1 + int(r() * (n_events // 20 + 1))
        country = COUNTRIES[int(r() * len(COUNTRIES))]
        sku = f"SKU-{1 + int(r() * 50000):05d}"
        price = 50 + int(r() * 500000)
        status = STATUSES[int(r() * len(STATUSES))]
        tier = TIERS[int(r() * len(TIERS))]
        lines.append(json.dumps(
            {"event_id": eid,
             "user": {"id": uid, "name": names[int(r() * 512)], "country": country},
             "item": {"sku": sku, "price_cents": price},
             "status": status, "tier": tier, "title": title[0], "note": note[0]},
            separators=(",", ":")))
        if status in ("active", "pending"):
            kept.append((str(eid), str(uid), country.lower(), sku, str(price), status,
                         tier, title[1], note[1]))
    dups = [lines[int(r() * n_events)] for _ in range(n_events // 10)]
    lines += dups
    rng.shuffle(lines)
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    return kept, len(lines), len(dups) / len(lines)


# ---------------------------------------------------------------- curation_corpus

JUNK = ("lorem", "ipsum", "javascript")


def cluster_sizes(n):
    """Near-duplicate cluster sizes (copies per cluster) summing to `n`:
    a fixed heavy-tailed shape, the same for every seed, so the CC graph's
    largest component and depth do not depend on the seed."""
    sizes, k = [], 1
    while sum(sizes) < n:
        sizes.append(max(1, n // (8 * k)))
        k += 1
    sizes[-1] -= sum(sizes) - n
    return [s for s in sizes if s > 0]


def edit(rng, words):
    copy = list(words)
    for _ in range(max(1, len(copy) // 50)):
        copy[rng.randrange(len(copy))] = rng.choice(WORDS)
    return copy


def gen_docs(rng, n_docs):
    """Seeded documents for the curation chain. Mixes in the kinds of
    pages each stage exists to drop: boilerplate segments (c4_clean),
    short or symbol-heavy pages (gopher_filter), repeated passages
    (repetition_filter) and near-duplicate clusters with a heavy-tailed
    size distribution (near_dedup; the largest cluster is the CC hot key).
    The skew is left in on purpose: it is what real crawls look like.
    Shares and cluster shapes are fixed; the seed picks the words, which
    pages carry each defect and which pages get copied.
    Returns rows (doc_id, source, text) and the planted shares."""
    n_base = int(n_docs * 0.85)
    kinds = (["boilerplate"] * (n_base // 20) + ["low_quality"] * (n_base // 20) +
             ["repetitive"] * (n_base // 25))
    kinds += [None] * (n_base - len(kinds))
    rng.shuffle(kinds)
    docs, clean = [], []
    for kind in kinds:
        words = sentence(rng, 80, 400).split(" ")
        if kind == "boilerplate":    # junk in most segments: c4 keeps < 3
            for j in range(0, len(words), 10):
                if rng.random() < 0.9:
                    words[j + rng.randrange(min(10, len(words) - j))] = rng.choice(JUNK)
        elif kind == "low_quality":  # short, or symbol-heavy
            words = words[:rng.randint(10, 40)] if rng.random() < 0.5 else \
                [w if rng.random() < 0.7 else "#" * rng.randint(1, 3) for w in words]
        elif kind == "repetitive":   # one passage repeated
            words = words[:rng.randint(12, 30)] * rng.randint(4, 8)
        else:
            clean.append(len(docs))
        docs.append(words)
    # each cluster copies one clean page: its first third is a chain (each
    # copy edits the previous one), the rest edit the page directly
    roots = rng.sample(clean, len(cluster_sizes(n_docs - n_base)))
    for root, size in zip(roots, cluster_sizes(n_docs - n_base)):
        prev = docs[root]
        for i in range(size):
            copy = edit(rng, prev if i < size // 3 else docs[root])
            docs.append(copy)
            prev = copy
    order = list(range(len(docs)))
    rng.shuffle(order)
    rows = [(k, f"src{rng.randrange(4)}", " ".join(docs[i])) for k, i in enumerate(order)]
    planted = {k: kinds.count(k) / n_docs for k in ("boilerplate", "low_quality", "repetitive")}
    planted["near_duplicate"] = (n_docs - n_base) / n_docs
    planted["largest_cluster"] = cluster_sizes(n_docs - n_base)[0] + 1
    return rows, {k: round(v, 4) for k, v in planted.items()}

#!/usr/bin/env python3
"""Seeded inputs and ground truth for the perfbench workloads.

    python3 perfbench/gen.py --workload <etl_dump|serve_mix> --seed N --out DIR

Writes, under DIR:
  dump.json       the workload's dump in the real dump shape: `[`/`]`
                  framing, one entity per line with a trailing comma (none on
                  the last), qualifiers, references, sitelinks, aliases and
                  non-English labels the pruned parse must skip, plus planted
                  malformed, blank and whitespace-only lines;
  cs/NNNN.json    (serve_mix) the changeset stream, in the same framing,
                  and cs/warm.json, a changeset that changes nothing;
  expect.json     everything graft's answers are checked against.

Entities come from the builders in tools/gen_minidump.py, whose random
streams are reseeded from --seed. The ground truth in expect.json is computed
here, in Python, by re-deriving the eight reference tables from the JSON this
script wrote: graft only ever receives the generated files. Tables and query
answers are compared as (row count, order-independent content hash); the
hash is the sum mod 2^64 of a per-row SHA-1 prefix over a canonical rendering
that the harness reproduces (see `row_hash`).
"""
import argparse
import calendar
import hashlib
import json
import os
import random
import re
import struct
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave no cache files beside tools/
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
import gen_minidump as g  # noqa: E402

TABLES = ["meta", "string", "entity", "coordinates", "quantity", "time",
          "none", "unknown"]

# Workload sizes. They set how long one op takes and so how many ops fit in a
# run; README.md records the resulting MB, entity and op counts.
ETL_ENTITIES = 28000
SERVE_FILLER = 600
SERVE_ITEMS = 1500
CHANGESETS = 12
# serve_mix runs this sequence of README query patterns once per cycle, so
# every cycle has the same composition; the seed draws the arguments. No
# query log of this system exists to weight the patterns by, so the mix is
# neutral: each pattern once per round.
MIX = ["byLabel", "byId", "claimsOf", "withEntityClaim", "conjunctive", "path"]
QUERY_OPS = len(MIX) * CHANGESETS  # one round per changeset cycle

# The skewed claim graph of serve_mix: a subclass (P279) hierarchy of
# CLASS_LEVELS levels, items with an instance-of (P31) claim on a Zipf-chosen
# class, and Zipf-chosen (property, value) claims for conjunctive search.
CLASS_BASE = 5_000_000
ITEM_BASE = 6_000_000
VALUE_BASE = 7_000_000
CLASS_LEVELS = [1, 3, 9, 27, 60, 100]  # depth 6
SKEW_PROPS = 30
SKEW_VALUES = 200
ZIPF_S = 1.1

MASK64 = (1 << 64) - 1


# ---- ids, values and routing (the reference tables, re-derived) ----

ID_SIMPLE = re.compile(r"([QPL])(\d{1,17})")
ID_SUB = re.compile(r"L(\d{1,17})-([FS])(\d{1,17})")


def encode(text):
    """Textual Wikidata id -> int64 (Q n, P n+1e9, L n+2e9, forms and senses
    n+2e9 + m*1e11 [+1e10]); anything else -> None."""
    if not isinstance(text, str):
        return None
    m = ID_SIMPLE.fullmatch(text)
    if m:
        return int(m.group(2)) + {"Q": 0, "P": 10**9, "L": 2 * 10**9}[m.group(1)]
    m = ID_SUB.fullmatch(text)
    if m:
        base = int(m.group(1)) + 2 * 10**9 + int(m.group(3)) * 10**11
        return base + (10**10 if m.group(2) == "S" else 0)
    return None


def uri_id(uri):
    return encode(uri.rsplit("/", 1)[-1]) if isinstance(uri, str) else None


def signed_num(s):
    if not isinstance(s, str):
        return None
    try:
        return float(re.sub(r"^\+", "", s))
    except ValueError:
        return None


def as_double(x):
    return float(x) if isinstance(x, (int, float)) and not isinstance(x, bool) else None


TIME_RE = re.compile(r"(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})Z")


def time_micros(s):
    if not isinstance(s, str):
        return None
    fixed = re.sub(r"^\+", "", s)
    fixed = fixed.replace("-00-", "-01-").replace("-00T", "-01T")
    m = TIME_RE.fullmatch(fixed)
    if not m:
        return None
    return calendar.timegm(tuple(int(x) for x in m.groups())) * 1_000_000


def route(ent):
    """One entity document -> {table: [row tuples]}, the ETL's routing law:
    deprecated statements dropped, each mainsnak routed by snaktype and
    value type into one of the seven claim tables."""
    out = {t: [] for t in TABLES}
    eid = encode(ent.get("id"))
    if eid is not None:
        lab = (ent.get("labels") or {}).get("en") or {}
        desc = (ent.get("descriptions") or {}).get("en") or {}
        out["meta"].append((eid, lab.get("value"), desc.get("value")))
    for pid_text, stmts in (ent.get("claims") or {}).items():
        pid = encode(pid_text)
        for st in stmts:
            if (st.get("rank") or "normal") == "deprecated":
                continue
            snak = st.get("mainsnak") or {}
            kind = snak.get("snaktype")
            dv = snak.get("datavalue") or {}
            vt, v = dv.get("type"), dv.get("value")
            w = v if isinstance(v, dict) else {}
            text = w.get("text") if isinstance(w.get("text"), str) else None
            if kind == "value" and (vt == "string" or (vt == "monolingualtext" and text is not None)):
                s = text if text is not None else (v if isinstance(v, str) else None)
                if s is not None:
                    out["string"].append((eid, pid, s))
            elif kind == "value" and vt == "wikibase-entityid":
                target = encode(w.get("id"))
                if target is not None:
                    out["entity"].append((eid, pid, target))
            elif kind == "value" and vt == "globecoordinate":
                prec = as_double(w.get("precision"))
                globe = uri_id(w.get("globe"))
                out["coordinates"].append((eid, pid, as_double(w.get("latitude")),
                                           as_double(w.get("longitude")),
                                           0.0 if prec is None else prec,
                                           0 if globe is None else globe))
            elif kind == "value" and vt == "quantity":
                unit = w.get("unit")
                out["quantity"].append((eid, pid, signed_num(w.get("amount")),
                                        signed_num(w.get("lowerBound")),
                                        signed_num(w.get("upperBound")),
                                        None if unit == "1" else uri_id(unit)))
            elif kind == "value" and vt == "time":
                prec = as_double(w.get("precision"))
                out["time"].append((eid, pid, time_micros(w.get("time")),
                                    0 if prec is None else int(prec)))
            if kind == "novalue" or (kind == "value" and vt == "monolingualtext" and text is None):
                out["none"].append((eid, pid))
            elif kind == "somevalue":
                out["unknown"].append((eid, pid))
    return out


def field(x):
    if x is None:
        return "~"
    if isinstance(x, bool):
        raise TypeError("no boolean columns in the reference tables")
    if isinstance(x, int):
        return "i" + str(x)
    if isinstance(x, float):
        return "d" + struct.pack(">d", 0.0 if x == 0.0 else x).hex()
    b = x.encode("utf-8")
    return "s%d:%s" % (len(b), x)


def row_hash(row):
    """Canonical row -> unsigned 64-bit: the first 8 bytes of SHA-1 over the
    '|'-joined field renderings (null '~', integer 'i<decimal>', double
    'd<16 hex digits of the IEEE bits, -0.0 as 0.0>', string
    's<utf-8 length>:<text>')."""
    d = hashlib.sha1("|".join(field(x) for x in row).encode("utf-8")).digest()
    return int.from_bytes(d[:8], "big")


class Digest:
    """Order-independent multiset digest: (row count, sum of row hashes)."""

    def __init__(self):
        self.rows, self.sum = 0, 0

    def add(self, rows, sign=1):
        for r in rows:
            self.rows += sign
            self.sum = (self.sum + sign * row_hash(r)) & MASK64

    def to_json(self):
        return {"rows": self.rows, "hash": "%016x" % self.sum}


def digest(rows):
    d = Digest()
    d.add(rows)
    return d.to_json()


# ---- generation ----

def reseed(seed, salt):
    """Point every gen_minidump stream at a stream derived from (seed, salt)."""
    for name in ("rng", "qrng", "rrng", "trng", "srng", "frng"):
        setattr(g, name, random.Random(f"perfbench:{seed}:{salt}:{name}"))


def decorate(ent):
    """The real-dump decorations gen_minidump plants: contested ranks,
    typed contests, sitelinks and aliases, statement ids with qualifiers,
    references."""
    g.add_rank_contests(ent)
    g.add_typed_contests(ent)
    g.add_links(ent)
    g.add_qualifiers(ent, ent["id"])
    g.add_references(ent)
    return ent


def filler(i, id_text=None):
    ent = g.gen_entity(i)
    if id_text is not None:
        ent["id"] = id_text
    return decorate(ent)


def line_of(ent):
    return json.dumps(ent, separators=(",", ":"))


# Lines the tolerant reader must skip. None of them yields an entity id.
def malformed(r):
    return r.choice([
        "this is not json",
        '{"id": Q%d, "labels": {}}' % r.randint(1, 999),
        '{"type":"item","labels":{},"claims":{}}',
        '{"id":null,"type":"item"}',
        "<<<garbage %d>>>" % r.randint(0, 9999),
    ])


def write_dump(path, ents, r, reject_rate=0.004, blank_rate=0.003):
    """Dump framing around `ents`; returns (lines, framing, planted rejects)."""
    lines = ["["]
    rejects = 0
    for k, ent in enumerate(ents):
        last = k == len(ents) - 1
        lines.append(line_of(ent) + ("" if last else ","))
        if not last and r.random() < reject_rate:
            lines.append(malformed(r) + ",")
            rejects += 1
        if not last and r.random() < blank_rate:
            lines.append(" " * r.randrange(3))
    if rejects == 0:  # every dump plants at least one
        lines.insert(1, malformed(r) + ",")
        rejects = 1
    lines.append("]")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    framing = sum(1 for ln in lines if ln.strip(" ") in ("", "[", "]"))
    return len(lines), framing, rejects


def tables_of(ents):
    rows = {t: [] for t in TABLES}
    for ent in ents:
        for t, rs in route(ent).items():
            rows[t].extend(rs)
    return rows


def dump_info(path, ents, r):
    lines, framing, rejects = write_dump(path, ents, r)
    return {"path": os.path.basename(path), "bytes": os.path.getsize(path),
            "lines": lines, "framing": framing, "entities": len(ents),
            "rejected": rejects}


def zipf(n, r):
    """A sampler of 0..n-1 with P(k) proportional to 1 / (k + 1)^ZIPF_S."""
    weights = [1.0 / (k + 1) ** ZIPF_S for k in range(n)]
    return lambda: r.choices(range(n), weights)[0]


def entity_snak(pid, target):
    return {"snaktype": "value", "property": pid,
            "datavalue": {"value": {"entity-type": "item", "id": target},
                          "type": "wikibase-entityid"}}


def graph_entities(seed):
    """The serve_mix claim graph: classes with P279 edges one level up (a
    second parent on a fifth of them), and items with a Zipf-chosen P31
    class and 3-8 Zipf-chosen skewed (property, value) claims."""
    r = random.Random(f"perfbench:{seed}:graph")
    reseed(seed, "graph-decor")
    classes, levels = [], []
    n = 0
    for size in CLASS_LEVELS:
        levels.append(list(range(n, n + size)))
        n += size
    for lvl, members in enumerate(levels):
        for c in members:
            ent = {"id": f"Q{CLASS_BASE + c}", "type": "item",
                   "labels": {"en": {"language": "en", "value": f"class {c}"},
                              "fr": {"language": "fr", "value": f"classe {c}"}},
                   "descriptions": {}, "claims": {}}
            if lvl > 0:
                parents = {r.choice(levels[lvl - 1])}
                if r.random() < 0.2:
                    parents.add(r.choice(levels[lvl - 1]))
                ent["claims"]["P279"] = [
                    {"mainsnak": entity_snak("P279", f"Q{CLASS_BASE + p}"),
                     "type": "statement", "rank": "normal"} for p in sorted(parents)]
            g.add_links(ent)
            classes.append(ent)
    leaf_first = list(reversed(range(n)))  # Zipf favours the deepest classes
    cls = zipf(n, r)
    props = zipf(SKEW_PROPS, r)
    vals = zipf(SKEW_VALUES, r)
    items = []
    for j in range(SERVE_ITEMS):
        ent = g.gen_entity(j)
        ent["id"] = f"Q{ITEM_BASE + j}"
        ent["claims"]["P31"] = [{"mainsnak": entity_snak(
            "P31", f"Q{CLASS_BASE + leaf_first[cls()]}"),
            "type": "statement", "rank": "normal"}]
        for _ in range(r.randint(3, 8)):
            pid = f"P{2000 + props()}"
            st = {"mainsnak": entity_snak(pid, f"Q{VALUE_BASE + vals()}"),
                  "type": "statement",
                  "rank": "deprecated" if r.random() < 0.03 else "normal"}
            ent["claims"].setdefault(pid, []).append(st)
        g.add_links(ent)
        g.add_qualifiers(ent, ent["id"])
        g.add_references(ent)
        items.append(ent)
    return classes, items


# ---- query answers, over the re-derived tables ----

def path_pairs(entity_rows, p_step, p_star):
    """P<step>/P<star>*: (s, x) for every step edge, plus (s, d) for every d
    reachable from x in >= 1 star hops over the star edges with src != dst."""
    step = {(s, d) for s, p, d in entity_rows if p == p_step}
    adj = {}
    for s, p, d in entity_rows:
        if p == p_star and s != d:
            adj.setdefault(s, set()).add(d)
    reach = {}

    def plus(x):
        if x not in reach:
            seen, todo = set(), list(adj.get(x, ()))
            while todo:
                y = todo.pop()
                if y not in seen:
                    seen.add(y)
                    todo.extend(adj.get(y, ()))
            reach[x] = seen
        return reach[x]

    out = set(step)
    for s, x in step:
        out.update((s, d) for d in plus(x))
    return out


def query_mix(seed, ents, rows):
    r = random.Random(f"perfbench:{seed}:mix")
    meta = rows["meta"]
    by_label, by_id = {}, {}
    for m in meta:
        by_label.setdefault(m[1], []).append(m)
        by_id[m[0]] = m
    kinds = {"string": "string", "entity": "entity", "coordinates": "coordinates",
             "quantity": "quantity", "time": "time", "none": "none", "unknown": "unknown"}
    claims_of = {}
    for t, kind in kinds.items():
        for row in rows[t]:
            claims_of.setdefault(row[0], []).append((row[0], row[1], kind))
    pair_rows = {}
    for row in rows["entity"]:
        pair_rows.setdefault((row[1], row[2]), []).append(row)
    item_pairs = {}
    for row in rows["entity"]:
        if ITEM_BASE <= row[0] < VALUE_BASE:
            item_pairs.setdefault(row[0], set()).add((row[1], row[2]))
    holders = {p: {row[0] for row in rs} for p, rs in pair_rows.items()}
    searchable = sorted(i for i, ps in item_pairs.items() if len(ps) >= 4)
    ids = sorted(by_id)
    labels = sorted(x for x in by_label if x is not None)
    skewed = sorted(pair_rows)
    pair_weight = [len(pair_rows[p]) for p in skewed]
    path_answer = digest(sorted(path_pairs(rows["entity"], encode("P31"), encode("P279"))))

    def text_id(n):
        kind = "Q" if n < 10**9 else ("P" if n < 2 * 10**9 else "L")
        return kind + str(n - {"Q": 0, "P": 10**9, "L": 2 * 10**9}[kind])

    ops = []
    for k in range(QUERY_OPS):
        kind = MIX[k % len(MIX)]
        if kind == "byLabel":
            lab = r.choice(labels) if r.random() < 0.9 else "no such label"
            ops.append({"op": "byLabel", "family": "lookup", "label": lab,
                        **digest(by_label.get(lab, []))})
        elif kind == "byId":
            n = r.choice(ids) if r.random() < 0.9 else 99_999_999
            ops.append({"op": "byId", "family": "lookup", "id": text_id(n),
                        **digest([by_id[n]] if n in by_id else [])})
        elif kind == "claimsOf":
            n = r.choice(ids)
            ops.append({"op": "claimsOf", "family": "lookup", "entity": n,
                        **digest(claims_of.get(n, []))})
        elif kind == "withEntityClaim":
            p = r.choices(skewed, weights=pair_weight)[0]
            ops.append({"op": "withEntityClaim", "family": "lookup",
                        "property": p[0], "value": p[1], **digest(pair_rows[p])})
        elif kind == "conjunctive":
            item = r.choice(searchable)
            conj = r.sample(sorted(item_pairs[item]), r.randint(2, 4))
            hits = set.intersection(*(holders[c] for c in conj))
            hits = [by_id[i] for i in hits if i in by_id]
            ops.append({"op": "conjunctive", "family": "search",
                        "conjuncts": [list(c) for c in conj], **digest(hits)})
        else:
            ops.append({"op": "path", "family": "path", "expr": "P31/P279*", **path_answer})
    return ops


# ---- changesets ----

def changesets(seed, base_ents, out_dir):
    """A stream of changesets in the dump framing. Revision ids grow across
    the stream, so each changeset's winners supersede everything before it;
    inside a changeset the planted cases are: modify; modify plus a stale
    lower revision after it in the file; delete; delete plus a stale put;
    delete-then-recreate; delete of an id that never existed; new ids.
    Returns per changeset its file facts, a read-your-writes probe and the
    expected table digests after applying it."""
    r = random.Random(f"perfbench:{seed}:changes")
    reseed(seed, "changes")
    os.makedirs(os.path.join(out_dir, "cs"), exist_ok=True)
    state = {e["id"]: e for e in base_ents}
    digests = {t: Digest() for t in TABLES}
    for ent in base_ents:
        for t, rs in route(ent).items():
            digests[t].add(rs)
    # the warm-up changeset re-puts base entities unchanged and deletes ids
    # that never existed: the whole commit path runs, the state stays put
    warm = [dict(e, lastrevid=1 + k) for k, e in enumerate(r.sample(base_ents, 12))]
    warm += [{"id": f"Q{80_000_000 + k}", "lastrevid": 100 + k, "deleted": True}
             for k in range(2)]
    warm_path = os.path.join(out_dir, "cs", "warm.json")
    with open(warm_path, "w") as f:
        f.write("\n".join(["["] + [line_of(x) + "," for x in warm] + ["]"]) + "\n")
    deleted = []
    next_new = 10_000_000
    revid = 1_000_000
    out = []

    def bump():
        nonlocal revid
        revid += r.randint(1, 5)
        return revid

    for j in range(CHANGESETS):
        live = sorted(state)
        touched = r.sample(live, 13)
        lines, winners = [], {}

        def put(id_text):
            ent = filler(r.randrange(10**6), id_text)
            ent["lastrevid"] = bump()
            lines.append(ent)
            return ent

        def tomb(id_text):
            lines.append({"id": id_text, "lastrevid": bump(), "deleted": True})

        for id_text in touched[:6]:                      # modify
            winners[id_text] = put(id_text)
        for id_text in touched[6:8]:                     # modify + stale
            stale = filler(r.randrange(10**6), id_text)
            stale["lastrevid"] = bump()
            winners[id_text] = put(id_text)
            lines.append(stale)
        for id_text in touched[8:11]:                    # delete
            tomb(id_text)
            winners[id_text] = None
        for id_text in touched[11:13]:                   # delete + stale put
            stale = filler(r.randrange(10**6), id_text)
            stale["lastrevid"] = bump()
            tomb(id_text)
            lines.append(stale)
            winners[id_text] = None
        if deleted:                                      # re-create
            id_text = deleted.pop(r.randrange(len(deleted)))
            tomb(id_text)
            winners[id_text] = put(id_text)
        lines.append({"id": f"Q{90_000_000 + j}", "lastrevid": bump(),
                      "deleted": True})                  # never existed
        for _ in range(3):                               # new ids
            next_new += 1
            winners[f"Q{next_new}"] = put(f"Q{next_new}")
        probe = touched[0] if j % 2 == 0 else touched[8]

        for id_text, ent in winners.items():
            old = state.pop(id_text, None)
            if old is not None:
                for t, rs in route(old).items():
                    digests[t].add(rs, -1)
            if ent is not None:
                clean = {k: v for k, v in ent.items() if k != "lastrevid"}
                state[id_text] = clean
                for t, rs in route(clean).items():
                    digests[t].add(rs)
            else:
                deleted.append(id_text)
        # file order: shuffled, so last-writer-wins must come from lastrevid
        r.shuffle(lines)
        path = os.path.join(out_dir, "cs", "%04d.json" % j)
        body = ["["] + [line_of(x) + "," for x in lines]
        body.insert(1 + r.randrange(len(lines)), malformed(r) + ",")
        body.append("]")
        with open(path, "w") as f:
            f.write("\n".join(body) + "\n")
        probe_rows = route(state[probe])["meta"] if probe in state else []
        out.append({"path": os.path.relpath(path, out_dir),
                    "bytes": os.path.getsize(path),
                    "changes": len(lines), "winners": len(winners),
                    "deletes": sum(1 for v in winners.values() if v is None),
                    "probe": probe, **{"probe_" + k: v for k, v in digest(probe_rows).items()},
                    "tables": {t: d.to_json() for t, d in digests.items()}})
    return out


# ---- workloads ----

def generate(workload, seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    r = random.Random(f"perfbench:{seed}:frame")
    exp = {"workload": workload, "seed": seed}
    if workload == "etl_dump":
        reseed(seed, "etl")
        ents = [filler(i) for i in range(ETL_ENTITIES)]
    elif workload == "serve_mix":
        reseed(seed, "serve")
        ents = [filler(i) for i in range(SERVE_FILLER)]
        classes, items = graph_entities(seed)
        ents = ents + classes + items
    else:
        raise SystemExit(f"unknown workload {workload!r}")
    exp["dump"] = dump_info(os.path.join(out_dir, "dump.json"), ents, r)
    rows = tables_of(ents)
    exp["tables"] = {t: digest(rows[t]) for t in TABLES}
    if workload == "serve_mix":
        exp["queries"] = query_mix(seed, ents, rows)
        exp["mix_length"] = len(MIX)
        exp["changesets"] = changesets(seed, ents, out_dir)
        exp["warm_changeset"] = os.path.join("cs", "warm.json")
    with open(os.path.join(out_dir, "expect.json"), "w") as f:
        json.dump(exp, f, separators=(",", ":"))
    return exp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()

"""Seeded transcript fixtures with closed-form golden outputs.

One generator covers every KG workload. `vocab` picks the entity
dictionaries: 0 uses the engine's own TranscriptGen dictionaries (20
persons, 12 orgs, 10 cities, so about 84 distinct mentions), N > 0
synthesizes N pairwise-dissimilar names per type. The turn template,
the 2 % hot conversations and the alias variants follow TranscriptGen.

Every count that sets the amount of work (turns per conversation,
template per turn) is an exact function of the size, not of the seed:
the seed only permutes them and picks the entities and variants. So two
seeds give fixtures of the same size, and one seed gives identical
files.

Written per fixture directory:
  transcripts/part-*.parquet   the engine's input contract table
  inc_<k>/part-*.parquet       (increments > 0) disjoint conversation slices
  golden_triples.parquet       distinct (subj, pred, obj), canonical forms
  golden_mentions.parquet      (mention_type, norm, entity) for each
                               normalized surface form that occurs
  meta.json                    sizes and golden counts
"""
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PERSONS = [
    "Alice Johnson", "Bob Smith", "Carol Martinez", "David Lee",
    "Emma Wilson", "Frank Brown", "Grace Kim", "Henry Davis",
    "Isabel Garcia", "Jack Taylor", "Karen Moore", "Liam Anderson",
    "Maria Thomas", "Noah Jackson", "Olivia White", "Peter Harris",
    "Quinn Murphy", "Rachel Clark", "Samuel Lewis", "Tina Walker"]
ORGS = [
    "Acme Corp", "Globex Industries", "Initech Systems", "Umbrella Labs",
    "Stark Enterprises", "Wayne Holdings", "Cyberdyne Works", "Tyrell Group",
    "Wonka Factory", "Hooli Cloud", "Pied Piper", "Vandelay Imports"]
CITIES = [
    "Springfield", "Riverton", "Lakewood", "Fairview", "Greenville",
    "Bristol Bay", "Madison Port", "Clayton Hills", "Ashford", "Brockton"]
TOOLS = ["search", "calculator", "browser", "db_query"]

# (pred, infix, subject type, object type); template ids 0..3, as in
# TranscriptGen and the engine's extraction rules
PREDICATES = [
    ("works_at", " works at ", "person", "org"),
    ("lives_in", " lives in ", "person", "city"),
    ("reports_to", " reports to ", "person", "person"),
    ("based_in", " is based in ", "org", "city")]
CHATTER = "Please summarize the previous discussion."
AVG_TURNS = 8
FILES = 8

_CONS = "bcdfghjklmnprstvwz"
_VOWS = "aeiou"


def normalize(s):
    """The engine's mention normalization for ASCII text: lowercase, drop
    everything but [a-z0-9 ], collapse blanks, trim."""
    return re.sub(" +", " ", re.sub("[^a-z0-9 ]", "", s.lower())).strip()


def _word(rng):
    n = int(rng.integers(6, 10))
    letters = [(_CONS if i % 2 == 0 else _VOWS)[int(rng.integers(
        0, len(_CONS) if i % 2 == 0 else len(_VOWS)))] for i in range(n)]
    return "".join(letters).capitalize()


def synth_names(rng, n, taken):
    """n two-word names no normalized form of which repeats. Random
    9-to-18-letter words share almost no character 3-grams, so distinct
    names stay far below the engine's 0.6 linking threshold while their
    typo variants stay far above it."""
    out = []
    while len(out) < n:
        name = _word(rng) + " " + _word(rng)
        if normalize(name) not in taken:
            taken.add(normalize(name))
            out.append(name)
    return out


# Alias variant of the k-th mention of an entity: VARIANTS[k % 10], so
# every entity is written canonically 70 % of the time and, however few
# mentions it gets, more often than in any other form; typos show from
# its third mention on. 7 = lower case, 8 = doubled last letter,
# 9 = trailing blank (TranscriptGen's set) or, with synthesized names, a
# dropped last letter: a second typo for the linker to undo.
VARIANTS = [0, 0, 8, 0, 0, 9, 0, 7, 0, 0]


def variant(base, v, typo):
    if v == 0:
        return base
    if v == 7:
        return base.lower()
    if v == 8:
        return base + base[-1]
    return base[:-1] if typo else base + " "


def turn_counts(n_convs, rng):
    """Exactly 2 % hot conversations with 20x the average turns; the rest
    cycle through 1..2*AVG_TURNS. Only the assignment is seeded."""
    counts = (np.arange(n_convs) % (2 * AVG_TURNS)) + 1
    counts[: n_convs // 50] = AVG_TURNS * 20
    return rng.permutation(counts)


def _assign(rng, n_slots, pool_size):
    """Entity per mention slot: every entity gets the same number of
    mentions (+-1), in seeded order; plus each slot's occurrence index
    within its entity."""
    ent = rng.permutation(np.arange(n_slots) % pool_size)
    order = np.argsort(ent, kind="stable")
    first = np.searchsorted(ent[order], ent[order])
    k = np.empty(n_slots, np.int64)
    k[order] = np.arange(n_slots) - first
    return ent, k


def build(seed, n_convs, vocab, increments=0):
    """Generate the fixture in memory. Returns (tables, golden, meta)."""
    rng = np.random.default_rng([seed, n_convs, vocab])
    typo = vocab > 0
    if vocab == 0:
        persons, orgs, cities = PERSONS, ORGS, CITIES
    else:
        taken = set()
        persons = synth_names(rng, vocab, taken)
        orgs = synth_names(rng, vocab, taken)
        cities = synth_names(rng, vocab, taken)
    pools = {"person": persons, "org": orgs, "city": cities}

    counts = turn_counts(n_convs, rng)
    n_turns = int(counts.sum())
    conv_idx = np.repeat(np.arange(n_convs), counts)
    turn_idx = (np.arange(n_turns) - np.repeat(np.cumsum(counts) - counts, counts)).astype(np.int32)
    tmpl = rng.permutation(np.arange(n_turns) % 6)

    # mention slots per entity type, in turn order: subject then object
    slot_type = {}
    for t, (_p, _i, st, ot) in enumerate(PREDICATES):
        slot_type[(t, 0)], slot_type[(t, 1)] = st, ot
    fact = np.flatnonzero(tmpl < 4)
    ent = {0: np.zeros(n_turns, np.int64), 1: np.zeros(n_turns, np.int64)}
    occ = {0: np.zeros(n_turns, np.int64), 1: np.zeros(n_turns, np.int64)}
    for typ in pools:
        slots = [(i, side) for side in (0, 1) for t in range(4) if slot_type[(t, side)] == typ
                 for i in fact[tmpl[fact] == t]]
        slots.sort()
        e, k = _assign(rng, len(slots), len(pools[typ]))
        for (i, side), ei, ki in zip(slots, e, k):
            ent[side][i], occ[side][i] = ei, ki
    user = rng.integers(0, 2, n_turns)
    tool = rng.integers(0, len(TOOLS), n_turns)
    tool_org = rng.integers(0, len(orgs), n_turns)

    texts, roles, tools = [], [], []
    golden_triples, golden_mentions = set(), set()
    for i in range(n_turns):
        t = int(tmpl[i])
        if t < 4:
            pred, infix, st, ot = PREDICATES[t]
            sp, op = pools[st], pools[ot]
            s_ent, o_ent = int(ent[0][i]), int(ent[1][i])
            o_var = VARIANTS[occ[1][i] % 10]
            if pred == "reports_to" and o_ent == s_ent:  # never self-reporting
                o_ent, o_var = (o_ent + 1) % len(op), 0
            s_raw = variant(sp[s_ent], VARIANTS[occ[0][i] % 10], typo)
            o_raw = variant(op[o_ent], o_var, typo)
            texts.append(s_raw + infix + o_raw + ".")
            golden_triples.add((sp[s_ent], pred, op[o_ent]))
            golden_mentions.add((st, normalize(s_raw), f"{st}:{s_ent}"))
            golden_mentions.add((ot, normalize(o_raw), f"{ot}:{o_ent}"))
            roles.append("user" if user[i] else "assistant")
            tools.append(None)
        elif t == 4:
            texts.append(CHATTER)
            roles.append("user" if user[i] else "assistant")
            tools.append(None)
        else:
            texts.append("Found results for " + orgs[int(tool_org[i])] + " in the index.")
            roles.append("tool")
            tools.append(TOOLS[int(tool[i])])

    conv_ids = np.char.add("conv_", np.char.zfill(conv_idx.astype(str), 8))
    ts = (1704067200 + conv_idx.astype(np.int64) * 100000
          + turn_idx.astype(np.int64) * 60) * 1_000_000
    table = pa.table({
        "conv_id": pa.array(conv_ids.tolist(), pa.string()),
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(roles, pa.string()),
        "text": pa.array(texts, pa.string()),
        "tool": pa.array(tools, pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    })
    tables = {"transcripts": table}
    replay = None
    if increments > 0:
        # disjoint conversation slices, plus one of them replayed
        part = conv_idx % increments
        for k in range(increments):
            tables[f"inc_{k}"] = table.filter(pa.array(part == k))
        replay = int(rng.integers(0, increments))
    n_fact_turns = int((tmpl < 4).sum())
    true_pairs = _true_pairs(golden_mentions)
    meta = {
        "seed": seed, "n_convs": n_convs, "vocab": vocab,
        "increments": increments, "replay": replay,
        "turns": n_turns, "fact_turns": n_fact_turns,
        "golden_triples": len(golden_triples),
        "golden_mentions": len(golden_mentions),
        "true_pairs": true_pairs,
    }
    return tables, (golden_triples, golden_mentions), meta


def _true_pairs(golden_mentions):
    """Same-entity pairs of distinct normalized forms: the pairs a perfect
    blocker reports."""
    per_entity = {}
    for _t, _norm, ent in golden_mentions:
        per_entity[ent] = per_entity.get(ent, 0) + 1
    return sum(n * (n - 1) // 2 for n in per_entity.values())


def _write_table(table, path):
    os.makedirs(path)
    n = table.num_rows
    for f in range(FILES):
        lo, hi = f * n // FILES, (f + 1) * n // FILES
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{f:05d}.parquet"))


def write(out_dir, seed, n_convs, vocab, increments=0):
    """Write the fixture to out_dir (replaced atomically via a temp dir)
    and return its meta. A finished fixture is reused as is."""
    meta_path = os.path.join(out_dir, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tables, (triples, mentions), meta = build(seed, n_convs, vocab, increments)
    for name, table in tables.items():
        _write_table(table, os.path.join(tmp, name))
    t = sorted(triples)
    pq.write_table(pa.table({
        "subj": [x[0] for x in t], "pred": [x[1] for x in t], "obj": [x[2] for x in t]}),
        os.path.join(tmp, "golden_triples.parquet"))
    m = sorted(mentions)
    pq.write_table(pa.table({
        "mention_type": [x[0] for x in m], "norm": [x[1] for x in m],
        "entity": [x[2] for x in m]}),
        os.path.join(tmp, "golden_mentions.parquet"))
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return meta

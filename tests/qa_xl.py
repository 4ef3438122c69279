"""LoCoMo-mini-XL: the ~10× generated QA benchmark (r10 verdict ask #6).

The hand-built 12-question harness (tests/qa_harness.py) pins the read
path's behavior exactly, but its resolution is one question per failure
mode — a ranking regression smaller than 1/12 passes silently. This
module GENERATES a structurally identical benchmark at ~30× the question
count (same deterministic protocol as the reference's LoCoMo/LongMemEval
harnesses, tests/benchmarks/test_locomo.py): planted facts, shared-
vocabulary distractors, supersession chains answered from the head,
temporal scoping, and abstention questions whose tokens provably appear
nowhere in the corpus (asserted at generation time).

Answering uses the engine's BATCH design point: every standard and
abstention question runs through ONE recall_many_hybrid job (queries-as-
DataFrame, SURVEY.md §3.1 — the LoCoMo harness shape), temporal-scoped
questions run one batch per distinct window over an F5-filtered pool,
and the supersession questions go through the full recall_full
composition (they grade the J5 current-state stage, which only exists
there). Scoring is the mini harness's protocol verbatim: token
containment over the concatenated top-k contents, forbid_top_id for
chains, empty-result for abstention.

Everything is derived from one seeded RNG — regenerating the module's
corpus/questions is bit-reproducible, and the committed golden
(tests/golden/qa_xl_baseline.json, via scripts/make_qa_xl_baseline.py)
pins every per-question verdict.
"""

from __future__ import annotations

import datetime as dt
import random
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automem_spark.functions.text import extract_keywords
from automem_spark.operators.enrichment import classify_memory_expr
from automem_spark.operators.recall import RecallRequest, recall_full, recall_many_hybrid

NOW = "2026-06-01 00:00:00"
TOP_K = 3
SEED = 20260816

_NAMES = [
    "nora", "felix", "priya", "marco", "yuki", "lena", "tariq", "ines",
    "viktor", "amara", "jonas", "selin", "ravi", "greta", "omar", "dana",
    "pablo", "mira", "stefan", "aisha", "henrik", "chiara", "kofi", "elsa",
    "dmitri", "leila", "bruno", "saskia", "arjun", "maren", "tomas", "zara",
    "ewan", "bianca", "lukas", "farah", "nils", "paula", "kenji", "sofia",
]
_EDITORS = ["vim", "emacs", "neovim", "helix", "kakoune", "sublime"]
_BEVERAGES = ["tea", "coffee", "matcha", "cocoa", "chai"]
_PETS = [("dog", ["biscuit", "waffle", "pixel", "mocha", "noodle", "tofu"]),
         ("cat", ["clementine", "sprocket", "maple", "olive", "pepper", "juniper"])]
_LANGS = ["rust", "golang", "python", "scala", "haskell", "kotlin"]
_HOBBIES = ["bouldering", "pottery", "birdwatching", "origami", "kayaking",
            "beekeeping", "astrophotography", "fencing", "calligraphy"]
_CITY_PAIRS = [
    ("berlin", "lisbon"), ("oslo", "prague"), ("vienna", "madrid"),
    ("dublin", "tallinn"), ("riga", "porto"), ("zurich", "krakow"),
    ("ghent", "seville"), ("turin", "malmo"),
]
_PROJECTS = [
    "atlas", "borealis", "cascade", "dynamo", "ember", "fjord", "granite",
    "horizon", "ivory", "juniper2", "krypton", "lumen", "meridian", "nimbus",
    "obsidian", "pinnacle", "quartz", "rubicon",
]
_DBS = ["postgresql", "duckdb", "clickhouse", "sqlite", "cassandra", "mariadb"]
_MONTHS = ["january", "february", "march", "april", "june", "july",
           "august", "september", "october", "november"]

# Abstention vocabulary: every content template below avoids these words,
# and _build() asserts (substring-level) that no abstention token appears
# anywhere in the generated corpus or tags.
_ABSTENTION_TOPICS = [
    ("wifi password", ["wifi", "password"]),
    ("vpn certificate passphrase", ["vpn", "certificate", "passphrase"]),
    ("badge printer firmware", ["badge", "printer", "firmware"]),
    ("parking garage gate code", ["parking", "garage", "gate"]),
    ("payroll ledger approval voucher", ["payroll", "ledger", "voucher"]),
    ("espresso grinder warranty serial", ["espresso", "grinder", "warranty"]),
    ("rooftop antenna alignment angle", ["rooftop", "antenna", "alignment"]),
    ("freight elevator inspection permit", ["freight", "elevator", "inspection"]),
    ("biometric scanner enrollment quota", ["biometric", "scanner", "enrollment"]),
    ("sauna booking refund policy", ["sauna", "booking", "refund"]),
]

_DISTRACTOR_TEMPLATES = [
    "The {bev} machine on floor two is broken again.",
    "{city_t} trip photos were shared in the team channel.",
    "Editor plugin debates flooded the review thread once more.",
    "A stray {pet_kind} followed the interns home from the park.",
    "The {db} meetup stickers arrived late as usual.",
    "Deadline jokes were pinned to the retro board.",
    "Database trivia night moved to the big meeting room.",
    "The {lang} workshop recording is still processing.",
]


def _build():
    rng = random.Random(SEED)
    memories: list[tuple] = []
    edges: list[tuple] = []
    questions: list[dict] = []
    distractor_ids: set[int] = set()
    next_id = 1

    def add_memory(content, tags, ts, importance, confidence):
        nonlocal next_id
        mid = next_id
        next_id += 1
        memories.append((mid, content, tags, ts, importance, confidence))
        return mid

    def ts(year, month, day):
        return dt.datetime(year, month, day)

    # --- people: planted facts + questions -------------------------------
    for i, name in enumerate(_NAMES):
        tag = [f"entity:people:{name}"]
        base_year = 2025 if i % 3 else 2026
        cap = name.capitalize()

        editor = _EDITORS[(i * 7) % len(_EDITORS)]
        mid = add_memory(
            f"{cap}'s favorite editor is {editor} and the config is versioned.",
            tag + ["context:tools"], ts(base_year, (i % 11) + 1, (i % 27) + 1),
            0.6, 0.9,
        )
        questions.append({
            "qid": f"{name}_editor", "category": "single_hop",
            "query": f"what is {name}'s favorite editor",
            "expect_tokens": [editor], "gold_ids": [mid],
        })

        bev = _BEVERAGES[(i * 5) % len(_BEVERAGES)]
        other = _BEVERAGES[(i * 5 + 2) % len(_BEVERAGES)]
        mid = add_memory(
            f"{cap} prefers {bev} over {other} in the mornings.",
            tag, ts(base_year, (i % 10) + 1, (i % 25) + 2), 0.6, 0.9,
        )
        questions.append({
            "qid": f"{name}_morning", "category": "preference",
            "query": f"does {name} prefer {bev} or {other} in the mornings",
            "expect_tokens": [bev], "gold_ids": [mid],
        })

        if i % 2 == 0:
            pet_kind, pet_names = _PETS[(i // 2) % len(_PETS)]
            pet = pet_names[(i * 3) % len(pet_names)]
            mid = add_memory(
                f"{cap}'s {pet_kind} is named {pet} and steals socks.",
                tag, ts(base_year, (i % 9) + 1, (i % 23) + 3), 0.4, 0.9,
            )
            questions.append({
                "qid": f"{name}_pet", "category": "single_hop",
                "query": f"what is {name}'s {pet_kind} named",
                "expect_tokens": [pet], "gold_ids": [mid],
            })

        hobby = _HOBBIES[(i * 4) % len(_HOBBIES)]
        mid = add_memory(
            f"{cap} spends most weekends {hobby} out of the city.",
            tag + ["context:leisure"],
            ts(base_year, (i % 7) + 3, (i % 18) + 6), 0.4, 0.8,
        )
        questions.append({
            "qid": f"{name}_hobby", "category": "single_hop",
            "query": f"what does {name} do on weekends",
            "expect_tokens": [hobby], "gold_ids": [mid],
        })

        squad = _PROJECTS[(i * 11) % len(_PROJECTS)]
        mid = add_memory(
            f"{cap} works on the {squad.capitalize()} squad since the spring rotation.",
            tag + [f"entity:project:{squad}"],
            ts(base_year, (i % 6) + 4, (i % 16) + 7), 0.5, 0.85,
        )
        questions.append({
            "qid": f"{name}_squad", "category": "single_hop",
            "query": f"which squad does {name} work on",
            "expect_tokens": [squad], "gold_ids": [mid],
        })

        if i % 3 == 0:
            lang = _LANGS[(i // 3) % len(_LANGS)]
            mid = add_memory(
                f"{cap} writes most services in {lang} these days.",
                tag + ["context:tools"],
                ts(base_year, (i % 8) + 2, (i % 21) + 4), 0.5, 0.85,
            )
            questions.append({
                "qid": f"{name}_lang", "category": "single_hop",
                "query": f"which language does {name} write services in",
                "expect_tokens": [lang], "gold_ids": [mid],
            })

    # --- supersession chains: move city, old EVOLVED_INTO new ------------
    chain_people = _NAMES[::2][: len(_CITY_PAIRS) * 2]
    for j, name in enumerate(chain_people):
        old_city, new_city = _CITY_PAIRS[j % len(_CITY_PAIRS)]
        if j >= len(_CITY_PAIRS):
            old_city, new_city = new_city, old_city
        cap = name.capitalize()
        # stale-but-important vs fresh-but-casual: the old move was a big
        # announcement (importance 0.9), the correction a passing remark
        # (0.5). A pure match-score or importance ranking answers from the
        # STALE memory; only the recency component (and, through
        # recall_full, the J5 supersession filter) gets this right — the
        # failure mode the scorecard's weight ablations must be able to see
        old_id = add_memory(
            f"{cap} mentioned moving to {old_city.capitalize()} for the platform role.",
            [f"entity:people:{name}", "context:work"],
            ts(2025, (j % 7) + 2, (j % 20) + 1), 0.9, 0.9,
        )
        new_id = add_memory(
            f"{cap} announced relocating to {new_city.capitalize()} after the reorg.",
            [f"entity:people:{name}", "context:work"],
            ts(2026, (j % 4) + 1, (j % 24) + 2), 0.5, 0.9,
        )
        edges.append((old_id, new_id, "EVOLVED_INTO", 1_775_000_000 + j))
        # limit 10 (inside the reference's default range): in a rich
        # persona the name-only query is a weak keyword signal, and the
        # reference's own entity-expansion boost legitimately outranks it
        # at k=3 — the J5 contract graded here is "superseded memory
        # suppressed, head retrievable", not "head wins the top slot"
        questions.append({
            "qid": f"{name}_city", "category": "current_state", "mode": "full",
            "query": f"where does {name} live", "limit": 10,
            "expect_tokens": [new_city], "forbid_any_id": old_id,
            "gold_ids": [new_id],
        })

    # --- projects: deadline / database / kickoff -------------------------
    for p, proj in enumerate(_PROJECTS):
        ptag = [f"entity:project:{proj}"]
        capp = proj.capitalize()
        month = _MONTHS[(p * 3) % len(_MONTHS)]
        day = (p * 5) % 27 + 1
        mid = add_memory(
            f"The {capp} project deadline is {month.capitalize()} {day}, 2026 per the steering call.",
            ptag + ["context:planning"], ts(2026, (p % 5) + 1, (p % 26) + 1),
            0.9, 0.9,
        )
        questions.append({
            "qid": f"{proj}_deadline", "category": "temporal",
            "query": f"when is the {proj} project deadline",
            "expect_tokens": [month, str(day)], "gold_ids": [mid],
        })

        db = _DBS[(p * 7) % len(_DBS)]
        mid = add_memory(
            f"We decided to use {db} as the database for the {capp} backend.",
            ptag + ["context:architecture"],
            ts(2026, (p % 4) + 1, (p % 22) + 3), 0.9, 0.95,
        )
        questions.append({
            "qid": f"{proj}_db", "category": "decision",
            "query": f"which database did we decide to use for {proj}",
            "expect_tokens": [db], "gold_ids": [mid],
        })

        owner = _NAMES[(p * 13) % len(_NAMES)]
        mid = add_memory(
            f"The {capp} oncall rotation is owned by {owner.capitalize()} this half.",
            ptag + ["context:ops"],
            ts(2026, (p % 5) + 1, (p % 17) + 8), 0.6, 0.9,
        )
        questions.append({
            "qid": f"{proj}_oncall", "category": "single_hop",
            "query": f"who owns the {proj} oncall rotation",
            "expect_tokens": [owner], "gold_ids": [mid],
        })

        if p % 2 == 0:
            kick_month = _MONTHS[(p * 2 + 1) % len(_MONTHS)]
            mid = add_memory(
                f"{capp} kickoff happened in {kick_month.capitalize()} with the full team.",
                ptag, ts(2026, (p % 3) + 1, (p % 19) + 5), 0.5, 0.8,
            )
            questions.append({
                "qid": f"{proj}_kickoff", "category": "temporal",
                "query": f"when was the {proj} kickoff",
                "expect_tokens": [kick_month], "gold_ids": [mid],
            })

    # --- temporal-scoped twins over the beverage facts -------------------
    scoped_people = [n for i, n in enumerate(_NAMES) if i % 3 == 1][:20]
    for name in scoped_people:
        i = _NAMES.index(name)
        if (2025 if i % 3 else 2026) != 2025:
            continue
        bev = _BEVERAGES[(i * 5) % len(_BEVERAGES)]
        questions.append({
            "qid": f"{name}_scoped", "category": "temporal_scoped",
            "query": f"{name} {bev} mornings",
            "start": "2025-01-01 00:00:00", "end": "2025-12-31 00:00:00",
            "expect_tokens": [bev],
            "gold_ids": None,  # resolved below from the fact row
        })

    # second scoped block: 2026-scoped editor facts (knowledge lives only
    # in the window; F5 must not drop it)
    for i, name in enumerate(_NAMES):
        if i % 3 != 0:
            continue
        editor = _EDITORS[(i * 7) % len(_EDITORS)]
        questions.append({
            "qid": f"{name}_scoped_editor", "category": "temporal_scoped",
            "query": f"{name} favorite editor",
            "start": "2026-01-01 00:00:00", "end": "2026-12-31 00:00:00",
            "expect_tokens": [editor],
            "gold_ids": [
                m[0] for m in memories
                if name in m[1].lower() and f"editor is {editor}" in m[1].lower()
            ],
        })

    # --- abstention -------------------------------------------------------
    for a, (topic, toks) in enumerate(_ABSTENTION_TOPICS):
        for variant in range(3):
            questions.append({
                "qid": f"abstain_{a}_{variant}", "category": "adversarial",
                "query": [
                    f"what is the {topic}",
                    f"who approved the {topic}",
                    f"when does the {topic} expire",
                ][variant],
                "expect_empty": True, "abstention_tokens": toks,
            })

    # --- distractors (shared vocabulary, never correct) ------------------
    for d in range(120):
        tpl = _DISTRACTOR_TEMPLATES[d % len(_DISTRACTOR_TEMPLATES)]
        content = tpl.format(
            bev=_BEVERAGES[rng.randrange(len(_BEVERAGES))],
            city_t=rng.choice([c for pair in _CITY_PAIRS for c in pair]).capitalize(),
            pet_kind=_PETS[d % 2][0],
            db=_DBS[rng.randrange(len(_DBS))],
            lang=_LANGS[rng.randrange(len(_LANGS))],
        )
        mid = add_memory(
            content, ["context:noise"],
            ts(2025 + d % 2, (d % 12) + 1, (d % 28) + 1),
            0.3, 0.7,
        )
        distractor_ids.add(mid)

    # --- headroom families (r11 verdict ask #4): questions the shipped
    # config does NOT ace, so min_accuracy sits meaningfully below 1.0 and
    # config improvements are measurable (reference: the LoCoMo benchmarks
    # plateau at 85-87% — hard questions are where changes show up,
    # benchmarks/EXPERIMENT_LOG.md:92-122). Appended AFTER the distractor
    # block so the RNG stream and every pre-existing memory id are
    # unchanged. ------------------------------------------------------------

    # (1) paraphrase-only recall: the query shares no content token with
    # the gold memory except the person's name — the keyword channel sees
    # only the name, which ties ~4-6 memories per person; the gold's rank
    # then rides the importance/recency blend. Editor facts (importance
    # 0.6, near the top of the name tie) are usually reachable; pet/hobby
    # facts (0.4, below the tie's top-3) usually are not — a mixed-outcome
    # category by construction.
    for i, name in enumerate(_NAMES):
        if i % 4 == 0:
            editor = _EDITORS[(i * 7) % len(_EDITORS)]
            gold = [
                m[0] for m in memories
                if name in m[1].lower() and f"editor is {editor}" in m[1]
            ]
            questions.append({
                "qid": f"{name}_editor_para", "category": "paraphrase",
                "query": f"which program is {name} typing code inside",
                "expect_tokens": [editor], "gold_ids": gold,
            })
        if i % 4 == 2:
            pet_gold = [
                m[0] for m in memories
                if name in m[1].lower() and "is named" in m[1]
            ]
            if pet_gold:
                pet_kind, pet_names = _PETS[(i // 2) % len(_PETS)]
                pet = pet_names[(i * 3) % len(pet_names)]
                questions.append({
                    "qid": f"{name}_pet_para", "category": "paraphrase",
                    "query": f"what do they call {name}'s furry companion",
                    "expect_tokens": [pet], "gold_ids": pet_gold,
                })
        if i % 4 == 3:
            hobby = _HOBBIES[(i * 4) % len(_HOBBIES)]
            gold = [
                m[0] for m in memories
                if name in m[1].lower() and hobby in m[1].lower()
            ]
            questions.append({
                "qid": f"{name}_hobby_para", "category": "paraphrase",
                "query": f"which pastime keeps {name} busy away from town",
                "expect_tokens": [hobby], "gold_ids": gold,
            })

    # (2) 3-hop composition: person -> squad -> that squad's database.
    # Answering needs BOTH the squad memory and the right project's db
    # memory in the top-k; single-shot recall has no join, so the db slot
    # goes to whichever project's db row wins the generic-token tie.
    inv11 = 5  # 11 * 5 = 55 ≡ 1 (mod 18)
    for p, proj in enumerate(_PROJECTS):
        name = _NAMES[(inv11 * p) % len(_PROJECTS)]
        db = _DBS[(p * 7) % len(_DBS)]
        gold = [
            m[0] for m in memories
            if f"use {db} as the database for the {proj.capitalize()} backend" in m[1]
        ]
        questions.append({
            "qid": f"{proj}_db_2hop", "category": "multi_hop",
            "query": f"which database was chosen for the squad {name} works on",
            "expect_tokens": [db], "gold_ids": gold,
        })

    # (3) near-duplicate distractors: an earlier architecture draft that
    # shares almost every query token with the decided row, planted a few
    # days earlier with HIGHER importance (0.95 vs 0.9) — a pure
    # match-score or importance ranking puts the draft first; only the
    # recency component separates them, and the gap shrinks with p%7, so
    # outcomes are mixed by construction. forbid_top_id makes this a
    # RANKING question (containment alone would pass with either order).
    for p, proj in enumerate(_PROJECTS):
        if p % 2 != 0:
            continue
        capp = proj.capitalize()
        db = _DBS[(p * 7) % len(_DBS)]
        other_db = _DBS[(p * 7 + 3) % len(_DBS)]
        gold_month, gold_day = (p % 4) + 1, (p % 22) + 3
        shadow_day = max(1, gold_day - (p % 7) - 1)
        sid = add_memory(
            f"An earlier architecture draft listed {other_db} as the database"
            f" for the {capp} backend.",
            [f"entity:project:{proj}", "context:architecture"],
            ts(2026, gold_month, shadow_day), 0.95, 0.9,
        )
        distractor_ids.add(sid)
        gold = [
            m[0] for m in memories
            if f"use {db} as the database for the {capp} backend" in m[1]
        ]
        questions.append({
            "qid": f"{proj}_db_neardup", "category": "near_dup",
            "query": f"which database is final for the {proj} backend",
            "expect_tokens": [db], "gold_ids": gold,
            "forbid_top_id": sid,
        })

    # (3b) fingerprint-radius twins: two >320-char rows identical in their
    # first 320 chars (so their X9 content fingerprints COLLIDE — the R7
    # dedup key radius) with the differing verdict value past the
    # truncation point. Both carry ids, so result dedup keeps both; the
    # question grades whether ranking puts the adopted row above its
    # rejected twin when the fingerprint cannot tell them apart.
    _FP_PREAMBLE = (
        "The capacity review for the {capp} ingestion tier covered shard"
        " rebalancing, compaction cadence, replica placement, snapshot"
        " retention, cold storage spillover, partition pruning coverage,"
        " manifest caching, write amplification, read amplification,"
        " backfill throughput, throttle arbitration, and failover rehearsal"
        " cadence across every candidate layout under consideration"
        " during the spring planning cycle"
    )
    for p, proj in enumerate(_PROJECTS):
        if p % 3 != 0:
            continue
        capp = proj.capitalize()
        preamble = _FP_PREAMBLE.format(capp=capp)
        assert len(preamble) >= 320, len(preamble)
        adopted = add_memory(
            preamble + f"; the adopted layout is tier-{(p % 4) + 2}.",
            [f"entity:project:{proj}", "context:architecture"],
            ts(2026, (p % 3) + 2, (p % 20) + 4), 0.7, 0.9,
        )
        rejected = add_memory(
            preamble + f"; the rejected layout was tier-{(p % 4) + 7}.",
            [f"entity:project:{proj}", "context:architecture"],
            ts(2026, (p % 3) + 2, max(1, (p % 20) + 4 - (p % 5) - 1)),
            0.85, 0.9,
        )
        # generation-time invariant: the pair is inside the X9 radius
        assert memories[-1][1][:320] == memories[-2][1][:320]
        distractor_ids.add(rejected)
        questions.append({
            "qid": f"{proj}_fp_twin", "category": "near_dup",
            "query": f"which layout did we adopt for the {proj} ingestion tier",
            "expect_tokens": [f"tier-{(p % 4) + 2}"], "gold_ids": [adopted],
            "forbid_top_id": rejected,
        })

    # resolve scoped gold ids + generation-time invariants
    content_by_id = {m[0]: m[1] for m in memories}
    all_text = " ".join(c.lower() for c in content_by_id.values())
    all_tags = " ".join(t for m in memories for t in m[2])
    for q in questions:
        if q.get("expect_empty"):
            # the keyword channel matches by SUBSTRING containment, so an
            # abstention query stays empty only if EVERY extracted token
            # (and the whole phrase) is substring-absent from all contents
            # and tags — the real no-match contract, asserted here
            for tok in extract_keywords(q["query"]):
                assert tok not in all_text and tok not in all_tags, (
                    f"abstention token {tok!r} leaked into the corpus ({q['qid']})"
                )
            phrase = q["query"].strip().lower()
            assert phrase not in all_text and phrase not in all_tags, q["qid"]
        elif q.get("gold_ids") is None:
            name, bev = q["query"].split()[0], q["expect_tokens"][0]
            q["gold_ids"] = [
                m[0] for m in memories
                if name in m[1].lower() and f"prefers {bev}" in m[1].lower()
            ]
            assert q["gold_ids"], q["qid"]
    return memories, edges, questions, distractor_ids, content_by_id


MEMORIES, EDGES, QUESTIONS, DISTRACTOR_IDS, CONTENT_BY_ID = _build()


def build_corpus(spark: SparkSession) -> DataFrame:
    df = spark.createDataFrame(
        MEMORIES,
        "id bigint, content string, tags array<string>, timestamp timestamp,"
        " importance double, confidence double",
    )
    return df.select(
        "*",
        classify_memory_expr(F.col("content"))["type"].alias("type"),
        F.lit(False).alias("archived"),
        F.lit(None).cast("timestamp").alias("t_valid"),
        F.lit(None).cast("timestamp").alias("t_invalid"),
        F.lit("{}").alias("metadata"),
    )


def build_edges(spark: SparkSession) -> DataFrame:
    df = spark.createDataFrame(
        EDGES, "src bigint, dst bigint, rel_type string, updated_at_epoch bigint"
    )
    return df.select(
        "src", "dst", "rel_type",
        F.lit(None).cast("double").alias("strength"),
        F.lit(None).cast("double").alias("score"),
        F.lit(None).cast("double").alias("confidence"),
        F.lit(None).cast("double").alias("similarity"),
        F.lit(None).cast("bigint").alias("cnt"),
        F.lit(None).cast("string").alias("kind"),
        F.lit(None).cast("string").alias("origin"),
        "updated_at_epoch",
    )


def _batch_answers(
    memories: DataFrame, questions: list[dict], *, limit: int = TOP_K
) -> dict[str, list[int]]:
    """All questions as ONE recall_many_hybrid job → qid -> top ids by rank.
    Questions absent from the result (no match) map to []."""
    pairs = [(q["qid"], q["query"]) for q in questions]
    rows = (
        recall_many_hybrid(memories, pairs, limit, now=NOW)
        .orderBy("query_id", "rank")
        .collect()
    )
    out: dict[str, list[int]] = {q["qid"]: [] for q in questions}
    for r in rows:
        out[r.query_id].append(int(r.id))
    return out


def answer_all(
    memories: DataFrame, edges: DataFrame, *, questions: list[dict] | None = None
) -> dict[str, list[int]]:
    qs = QUESTIONS if questions is None else questions
    batch = [q for q in qs if q.get("mode") != "full" and "start" not in q]
    scoped = [q for q in qs if q.get("mode") != "full" and "start" in q]
    full = [q for q in qs if q.get("mode") == "full"]

    answers = _batch_answers(memories, batch) if batch else {}

    # one batch per distinct window (F5 pushed into the scan)
    windows = sorted({(q["start"], q["end"]) for q in scoped})
    for start, end in windows:
        pool = memories.filter(
            (F.col("timestamp") >= F.lit(start).cast("timestamp"))
            & (F.col("timestamp") < F.lit(end).cast("timestamp"))
        )
        sub = [q for q in scoped if (q["start"], q["end"]) == (start, end)]
        answers.update(_batch_answers(pool, sub))

    # supersession questions grade the composed pipeline's J5 stage
    def run_full(q):
        req = RecallRequest(query=q["query"], limit=q.get("limit", TOP_K))
        out = recall_full(memories, edges, req, now=NOW)
        return q["qid"], [int(r.id) for r in out.orderBy("position").collect()]

    if full:
        with ThreadPoolExecutor(max_workers=6) as pool_ex:
            for qid, ids in pool_ex.map(run_full, full):
                answers[qid] = ids
    return answers


def score(question: dict, top_ids: list[int]) -> dict:
    if question.get("expect_empty"):
        return {"correct": len(top_ids) == 0, "top_ids": top_ids}
    text = " ".join(CONTENT_BY_ID.get(i, "").lower() for i in top_ids)
    ok = all(tok in text for tok in question["expect_tokens"])
    if "forbid_top_id" in question and top_ids and top_ids[0] == question["forbid_top_id"]:
        ok = False
    # the J5 suppression contract: the superseded memory must not be
    # retrievable at ANY position once its head exists
    if "forbid_any_id" in question and question["forbid_any_id"] in top_ids:
        ok = False
    return {"correct": ok, "top_ids": top_ids}


def run_all(spark: SparkSession) -> dict:
    memories = build_corpus(spark)
    edges = build_edges(spark)
    answers = answer_all(memories, edges)
    per_q = {
        q["qid"]: {"category": q["category"], **score(q, answers[q["qid"]])}
        for q in QUESTIONS
    }
    n = len(per_q)
    acc = sum(1 for v in per_q.values() if v["correct"]) / n
    return {"accuracy": round(acc, 6), "n_questions": n, "per_question": per_q}


# ---------------------------------------------------------------------------
# Sampled lab scorecard: the XL corpus is big enough for weight ablations to
# separate (the mini's binary containment ties at 100%); a seeded question
# sample keeps the gate inside the pytest budget. Ablations run through
# single-query recall(): recall_many_hybrid's OUTPUT rank is the same
# W1 blended sort (slot selection stays raw-score, like the single-query
# keyword channel), but recall() remains the per-config ablation surface
# because overrides thread through RecallRequest there.
# ---------------------------------------------------------------------------

SCORECARD_SAMPLE = 30


def scorecard(spark: SparkSession) -> list[dict]:
    from qa_harness import CANDIDATE_CONFIGS, lab_scorecard
    from automem_spark.operators.recall import recall

    memories = build_corpus(spark)
    rng = random.Random(SEED + 1)
    # current_state questions join the pool as RANKING probes through plain
    # recall() (no J5): their stale-vs-fresh construction is what separates
    # the recency component from a pure-match or importance ranking —
    # without them every gold is the unique token-matching row and the
    # no-signals ablation degenerately ties the shipped config
    eligible = [
        q for q in QUESTIONS if not q.get("expect_empty") and "start" not in q
    ]
    sample = rng.sample(eligible, SCORECARD_SAMPLE)
    probes = [q for q in QUESTIONS if q["category"] == "current_state"][:8]
    seen = {q["qid"] for q in sample}
    sample += [q for q in probes if q["qid"] not in seen]

    def answer_one(q, overrides):
        req = RecallRequest(query=q["query"], limit=TOP_K, **(overrides or {}))
        out = recall(memories, req, now=NOW)
        return [int(r.id) for r in out.select("id").collect()]

    def gold(q):
        return q["gold_ids"]

    def distractor(q, ids):
        if not ids:
            return None
        return sum(1 for i in ids if i in DISTRACTOR_IDS) / len(ids)

    return lab_scorecard(
        sample,
        lambda q, ov: answer_one(q, ov),
        gold,
        distractor,
        CANDIDATE_CONFIGS,
        k=TOP_K,
        workers=8,
    )

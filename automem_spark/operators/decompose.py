"""Query auto-decomposition (R8/R9/R10).

Driver-side per-query parsing (SURVEY.md §4.2 item 5) that turns one natural
question into a list of sub-queries, which then run as ONE Spark job through
``recall_many_hybrid`` (queries-as-DataFrame fan-out).

Reference semantics:
- R8 entity extraction: capitalized-word heuristic + possessive regex with a
  stopword list                                  automem/api/recall.py:152-195
- R9 topic keywords: lowercase >=4-char words minus ~70 skip words, first 5
                                                 automem/api/recall.py:198-307
- R10 sub-query derivation: [entity], [entity+topic (<=3)], entity+"interests
  goals plans" when career/job/work present; topic-only when no entities
                                                 automem/api/recall.py:2151-2180

Divergence (documented): the reference returns entities via ``list(set(...))``
whose order depends on the process hash seed; we sort for determinism.
"""

from __future__ import annotations

import re

# Capitalized words never treated as names (automem/api/recall.py:90-148).
ENTITY_STOPWORDS = {
    "What", "Would", "Could", "Does", "Did", "How", "Why", "When", "Where",
    "Which", "Who", "Whose", "Will", "Can", "Should", "Has", "Have", "Had",
    "Is", "Are", "Was", "Were", "Do", "Been", "Being", "The", "Answer",
    "Yes", "No", "Likely", "Based", "According", "Since", "Because",
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
    "Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday",
    "Sunday", "National", "American", "European", "Asian", "African",
}

# Question/filler words excluded from topics (automem/api/recall.py:215-291).
TOPIC_SKIP_WORDS = {
    "would", "could", "should", "will", "can", "may", "might", "does", "did",
    "has", "have", "had", "is", "are", "was", "were", "be", "been", "being",
    "the", "a", "an", "to", "for", "of", "in", "on", "at", "by", "with",
    "about", "as", "if", "or", "and", "but", "what", "which", "who", "whom",
    "whose", "where", "when", "why", "how", "this", "that", "these", "those",
    "it", "its", "they", "them", "their", "he", "she", "his", "her", "him",
    "likely", "probably", "possibly", "considered", "pursue", "want", "like",
    "prefer", "interested", "still", "ever", "more", "most", "some", "any",
    "all", "only",
}


def extract_query_entities(query: str) -> list[str]:
    """R8: mid-sentence Capitalized words (not after ./?/!) plus possessive
    names, minus the stopword list. Sorted for determinism."""
    if not query:
        return []
    words = query.split()
    entities: list[str] = []
    for i, word in enumerate(words):
        clean = re.sub(r"[^\w]", "", word)
        if len(clean) < 2 or clean in ENTITY_STOPWORDS:
            continue
        if "'s" in word or "’s" in word:
            continue
        if clean[0].isupper() and clean[1:].islower():
            if i == 0:
                continue
            if i > 0 and words[i - 1][-1] in ".?!":
                continue
            entities.append(clean)
    for p in re.findall(r"\b([A-Z][a-z]+)['’]s\b", query):
        if p not in ENTITY_STOPWORDS and p not in entities:
            entities.append(p)
    return sorted(set(entities))


def extract_topic_keywords(
    query: str, exclude_entities: list[str] | None = None
) -> list[str]:
    """R9: lowercase >=4-char words minus skip words and entity names,
    order-preserving unique, first 5."""
    if not query:
        return []
    exclude = {e.lower() for e in (exclude_entities or [])}
    words = re.findall(r"\b[a-z]{4,}\b", query.lower())
    seen: set[str] = set()
    out: list[str] = []
    for w in words:
        if w in TOPIC_SKIP_WORDS or w in exclude or w in seen:
            continue
        seen.add(w)
        out.append(w)
    return out[:5]


def decompose_query(query_text: str) -> list[str]:
    """R10: [original] + per-entity sub-queries + topic-only fallback
    (automem/api/recall.py:2151-2180). Returns the full queries_to_run list
    (original first)."""
    entities = extract_query_entities(query_text)
    topics = extract_topic_keywords(query_text, exclude_entities=entities)
    decomposed: list[str] = []
    for entity in entities[:2]:
        decomposed.append(entity)
        for topic in topics[:3]:
            decomposed.append(f"{entity} {topic}")
        if "career" in topics or "job" in topics or "work" in topics:
            decomposed.append(f"{entity} interests goals plans")
    if topics and not entities:
        decomposed.extend(topics[:3])
    return [query_text] + decomposed if decomposed else [query_text]

"""The hand-derived golden triples for the smoke conversations.

Each smoke sentence of ``generate_transcript_rows`` is one single-turn
conversation ``smoke-<i>``. The sets below are what a correct pipeline
must extract from them, written out by hand: mention keys are lemma
keys, mention ids are ``md5(doc ‖ 0x1f ‖ key)``.
"""

from __future__ import annotations

import hashlib

#: doc → [(mention key, entity id or None)]
SMOKE_MENTIONS: dict[str, list[tuple[str, str | None]]] = {
    # "Barack Obama was born on August 4th, 1961."
    "smoke-0": [("Barack Obama", "Q76"), ("August 4th 1961", None)],
    # "Apple is based in Cupertino."
    "smoke-1": [("Apple", "Q312"), ("Cupertino", "Q49255")],
    # "Good Technology is a company based in Sunnyvale."
    "smoke-2": [("Good Technology", "Q17081916"), ("Sunnyvale", "Q110759")],
    # "Isetan is a company based in Paris."
    "smoke-3": [("Isetan", "Q986118"), ("Paris", "Q90")],
    # "The International Arctic Research Center is located in Fairbanks, Alaska."
    "smoke-4": [
        ("International Arctic Research Center", "Q6049626"),
        ("Fairbanks", "Q79571"),
        ("Alaska", "Q797"),
    ],
    # "Barack Obama spoke for three hours at 9:30 AM."
    "smoke-5": [("Barack Obama", "Q76"), ("three hour", None), ("930 AM", None)],
    # "Isetan announces a sale every month."
    "smoke-6": [("Isetan", "Q986118"), ("every month", None)],
}

#: (doc, subject key, relation, object key)
SMOKE_RELATIONS: list[tuple[str, str, str, str]] = [
    ("smoke-0", "Barack Obama", "PER_DATE_OF_BIRTH", "August 4th 1961"),
    ("smoke-1", "Apple", "ORG_CITY_OF_HEADQUARTERS", "Cupertino"),
    ("smoke-2", "Good Technology", "ORG_CITY_OF_HEADQUARTERS", "Sunnyvale"),
    ("smoke-3", "Isetan", "ORG_CITY_OF_HEADQUARTERS", "Paris"),
    ("smoke-4", "International Arctic Research Center", "ORG_CITY_OF_HEADQUARTERS", "Fairbanks"),
    ("smoke-4", "International Arctic Research Center",
     "ORG_STATEORPROVINCE_OF_HEADQUARTERS", "Alaska"),
]

#: (entity id, relation, value): the fixture facts routed through the
#: property → relation map (P159 fans out to three relations, dates are
#: reformatted, every other property is dropped)
GROUND_TRUTH_FACTS: set[tuple[str, str, str]] = {
    ("Q17081916", "ORG_CITY_OF_HEADQUARTERS", "Sunnyvale"),
    ("Q17081916", "ORG_COUNTRY_OF_HEADQUARTERS", "Sunnyvale"),
    ("Q17081916", "ORG_STATEORPROVINCE_OF_HEADQUARTERS", "Sunnyvale"),
    ("Q986118", "ORG_CITY_OF_HEADQUARTERS", "Tokyo"),
    ("Q986118", "ORG_COUNTRY_OF_HEADQUARTERS", "Tokyo"),
    ("Q986118", "ORG_STATEORPROVINCE_OF_HEADQUARTERS", "Tokyo"),
    ("Q312", "ORG_CITY_OF_HEADQUARTERS", "Cupertino"),
    ("Q312", "ORG_COUNTRY_OF_HEADQUARTERS", "Cupertino"),
    ("Q312", "ORG_STATEORPROVINCE_OF_HEADQUARTERS", "Cupertino"),
    ("Q76", "PER_DATE_OF_BIRTH", "1961-08-04"),
}


def mention_id(doc: str, key: str) -> str:
    return hashlib.md5(f"{doc}\x1f{key}".encode()).hexdigest()


def smoke_triples() -> set[tuple]:
    """(doc, subjectType, subjectValue, relation, objectType, objectValue)
    for every mention, relation and link of the smoke conversations."""
    g: set[tuple] = set()
    for doc, mentions in SMOKE_MENTIONS.items():
        for key, entity in mentions:
            mid = mention_id(doc, key)
            g.add((doc, "Document", doc, "MENTIONS", "Mention", mid))
            g.add((doc, "Mention", mid, "LINKS_TO", "Entity", entity))
    for doc, skey, rel, okey in SMOKE_RELATIONS:
        g.add((doc, "Mention", mention_id(doc, skey), rel, "Mention", mention_id(doc, okey)))
    return g

"""The reference's ACTUAL health-relevance domain preset (§2.10 U1).

operators.relevance ships the *shape* of the relevance stage with a
generic vocabulary; this module ships the reference's real domain
knowledge, ported verbatim from the 180-line row-at-a-time UDF
(reference: src/spark_consumers/relevance_consumer.py:124-264):

- the 12-disease keyword dictionary (disease name -> trigger keywords),
- the 23-entry symptom list and 8-entry health-hazard list,
- the exact relevance rule   (diseases>0 OR symptoms>=2 OR hazard),
- the exact severity ladder  (severe/moderate/mild word lists, else
  'unknown'),
- the exact confidence formula
    relevant:  min(0.90, 0.6 + 0.1*min(n_dis,2)
                          + [n_sym>=2] * 0.05*min(n_sym,3)
                          + [severity!='unknown'] * 0.05)
    else:      0.2
- the insufficient-text guard (stripped length < 5 -> not relevant,
  severity 'unknown', confidence 0.0, reason 'insufficient_text').

Everything is a Catalyst column expression — the keyword scans unroll
into codegen'd `instr` calls, so the stage runs at scan bandwidth
instead of the reference's ~105 rec/s Python loop. Matching is plain
substring containment on lowercased text, exactly like the reference's
`kw in text_lower` (including its quirks: 'tb' matches 'football' —
parity over cleverness).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# reference: src/spark_consumers/relevance_consumer.py:124-137
DISEASE_KEYWORDS: dict[str, tuple[str, ...]] = {
    "COVID-19": ("covid", "coronavirus", "sars-cov-2"),
    "Influenza": ("flu", "influenza"),
    "Norovirus": ("norovirus", "stomach flu", "stomach bug"),
    "RSV": ("rsv", "respiratory syncytial"),
    "Strep Throat": ("strep", "strep throat"),
    "Food Poisoning": ("food poisoning", "foodborne", "salmonella", "e coli", "e. coli"),
    "Pneumonia": ("pneumonia",),
    "Tuberculosis": ("tuberculosis", "tb"),
    "Measles": ("measles",),
    "Hepatitis": ("hepatitis",),
    "Bronchitis": ("bronchitis",),
    "Meningitis": ("meningitis",),
}

# reference: src/spark_consumers/relevance_consumer.py:139-145
SYMPTOM_KEYWORDS: tuple[str, ...] = (
    "fever", "cough", "sore throat", "headache", "nausea",
    "vomiting", "diarrhea", "fatigue", "chills", "congestion",
    "body aches", "shortness of breath", "loss of taste",
    "loss of smell", "runny nose", "sneezing", "rash",
    "dizzy", "weakness", "pain", "aching", "sick", "ill",
)

# reference: src/spark_consumers/relevance_consumer.py:147-151
HAZARD_KEYWORDS: tuple[str, ...] = (
    "contamination", "unsanitary", "hygiene", "outbreak",
    "infection", "contagious", "epidemic", "pandemic",
)

# reference: src/spark_consumers/relevance_consumer.py:243-249
SEVERE_WORDS = ("severe", "critical", "emergency", "hospital", "ambulance", "icu")
MODERATE_WORDS = ("moderate", "worse", "worsening", "bad")
MILD_WORDS = ("mild", "slight", "minor", "little")


def _any_contains(text_lc: Column, words: tuple[str, ...]) -> Column:
    cond = F.lit(False)
    for w in words:
        cond = cond | (F.instr(text_lc, w) > 0)
    return cond


def analyze_health_relevance(df: DataFrame) -> DataFrame:
    """Append the reference UDF's six outputs of the `text` column as
    native columns:
    (diseases, symptoms, severity, confidence, is_relevant, reason).
    Arrays are emitted as comma-joined strings in vocabulary order (the
    reference json-dumps a Python set for symptoms — nondeterministic
    order; the engine pins dictionary order so results hash stably)."""
    text_lc = F.lower(F.trim(F.col("text")))
    long_enough = F.length(F.trim(F.col("text"))) >= 5

    diseases = F.filter(
        F.array(
            *[
                F.when(_any_contains(text_lc, kws), F.lit(name))
                for name, kws in DISEASE_KEYWORDS.items()
            ]
        ),
        lambda x: x.isNotNull(),
    )
    symptoms = F.filter(
        F.array(*[F.lit(s) for s in SYMPTOM_KEYWORDS]),
        lambda s: F.instr(text_lc, s) > 0,
    )
    n_dis, n_sym = F.size(diseases), F.size(symptoms)
    has_hazard = _any_contains(text_lc, HAZARD_KEYWORDS)

    matched = (n_dis > 0) | (n_sym >= 2) | has_hazard
    is_relevant = long_enough & matched

    severity_matched = (
        F.when(_any_contains(text_lc, SEVERE_WORDS), "severe")
        .when(_any_contains(text_lc, MODERATE_WORDS), "moderate")
        .when(_any_contains(text_lc, MILD_WORDS), "mild")
        .otherwise("unknown")
    )
    severity = F.when(long_enough, severity_matched).otherwise("unknown")

    # reference: src/spark_consumers/relevance_consumer.py:251-264
    conf_relevant = F.least(
        F.lit(0.90),
        F.lit(0.6)
        + 0.1 * F.least(n_dis.cast("double"), F.lit(2.0))
        + F.when(n_sym >= 2, 0.05 * F.least(n_sym.cast("double"), F.lit(3.0))).otherwise(0.0)
        + F.when(severity_matched != "unknown", 0.05).otherwise(0.0),
    )
    confidence = F.round(
        F.when(~long_enough, 0.0).when(is_relevant, conf_relevant).otherwise(0.2), 2
    )
    reason = F.when(long_enough, "keyword_analysis").otherwise("insufficient_text")

    return (
        df.withColumn("diseases", F.array_join(diseases, ","))
        .withColumn("symptoms", F.array_join(symptoms, ","))
        .withColumn("n_diseases", n_dis.cast("long"))
        .withColumn("n_symptoms", n_sym.cast("long"))
        .withColumn("has_hazard", has_hazard)
        .withColumn("is_relevant", is_relevant)
        .withColumn("severity", severity)
        .withColumn("confidence", confidence)
        .withColumn("reason", reason)
    )

"""Pipeline configuration.

Thresholds and bounds mirror the reference operating point
(/root/reference/configs/docred_joint/train.yaml:10-20 and
/root/reference/configs.py:31-61); see BASELINE.md.  Everything here is
a plain frozen dataclass so it pickles cheaply into executor closures.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class PipelineConfig:
    # --- JEREX semantic operating point (reference parity) ---
    mention_threshold: float = 0.85   # ref configs/docred_joint/train.yaml:10
    coref_threshold: float = 0.85    # ref configs/docred_joint/train.yaml:11
    rel_threshold: float = 0.6       # ref configs/docred_joint/train.yaml:12
    max_span_size: int = 10          # ref configs/docred_joint/train.yaml:20
    meta_embedding_size: int = 25    # ref configs/docred_joint/train.yaml:13

    # --- surrogate encoder/scorer geometry (weights.py) ---
    hidden_size: int = 64            # surrogate stand-in for BERT's 768
    vocab_size: int = 8192           # surrogate sub-word vocab
    max_positions: int = 700         # ref jerex/models/__init__.py:57-67
    unk_id: int = 100                # ref datasets.py:94-95 [UNK] fallback
    subword_chunk: int = 4           # surrogate WordPiece: split every 4 chars
    edit_dist_buckets: int = 30      # edit-distance embedding table size
    token_dist_buckets: int = 30     # token-distance embedding table size
    sent_dist_buckets: int = 30      # sentence-distance embedding table size
    weight_seed: int = 20210211      # frozen-artifact seed (EACL 2021 date)

    # --- real-checkpoint swap (weights.py load_jerex_state_dict,
    #     wordpiece.py) ---
    # weights_path: .npz weight artifact overriding the seeded
    #   surrogate (e.g. exported from a JEREX checkpoint); loaded
    #   identically in every executor process, so it must be a path
    #   all workers can read.
    # wordpiece_vocab: path to a standard vocab.txt; switches the
    #   sub-word encoder from the crc32 surrogate to WordPiece with
    #   the reference's offset-map + [UNK]-fallback semantics.
    weights_path: str | None = None
    wordpiece_vocab: str | None = None
    # attention head count for a loaded bert.* encoder (bert_numpy) —
    # the state_dict doesn't carry it; 12 = BERT-base.  Only read at
    # state_dict-conversion time; the .npz artifact stores it.
    bert_num_heads: int = 12

    # --- model variant (ref jerex/models/__init__.py:9-20 registers
    #     'joint_multi_instance' and 'joint_global') ---
    # "multi_instance": F5/F7/F8 mention-pair expansion + MI max-pool
    # "global": F6/F9 entity-pair repr + linear head (the paper's
    #           global baseline, ref joint_models.py:246-318)
    relation_mode: str = "multi_instance"

    # --- per-doc cost caps, mirror ref chunking knobs (configs.py:97-130) ---
    max_spans_per_doc: int = 4096
    max_mentions_per_doc: int = 128
    max_rel_pairs_per_doc: int = 16384

    # --- ontology (FIXTURES.md §2; insertion order == label index,
    #     ref jerex/data_module.py:25-46) ---
    entity_types: tuple = ("PER", "ORG", "LOC", "MISC")
    relation_types: tuple = ("works_at", "based_in", "partner_of")


DEFAULT = PipelineConfig()

# the paper's ablation variant: global entity-pair relation head
# (ref jerex/models/joint_models.py:246-318)
GLOBAL = PipelineConfig(relation_mode="global")

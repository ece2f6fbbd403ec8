"""Pipeline configuration — the reference's 37 ``download()`` keyword
arguments (`main.py:66-104`) as a validated dataclass.

Plan-time validation reproduces the reference's ``arguments_validator``
(`main.py:29-63`): hash-type whitelist, verify-hash consistency, and the
reserved-column guard.
"""

from __future__ import annotations

from dataclasses import dataclass, field

HASH_TYPES = ("md5", "sha256", "sha512")

RESERVED_COLUMNS = (
    "key",
    "status",
    "error_message",
    "exif",
    "md5",
    "sha256",
    "sha512",
    "drawings",
    "language",
    "total_words",
    "images_per_page",
    "text",
    "shard_id",
    "url",
    "doc_bytes",
    "page_no",
)

INPUT_FORMATS = ("txt", "csv", "tsv", "json", "jsonl", "parquet", "orc", "xml")
OUTPUT_FORMATS = ("files", "webdataset", "parquet", "orc", "jsonl", "tfrecord", "dummy")

# reference keywords accepted for API parity that no code reads: {name:
# reference default}; validate() warns when one is set (README "API
# parity"). Process pools, shard retries and wandb are Spark's scheduler,
# task retries and observe() metrics here (SURVEY P5); count_words waits
# for the reference source to pin its semantics.
IGNORED_PARITY_FIELDS = {
    "processes_count": 1,
    "distributor": None,
    "subjob_size": None,
    "max_shard_retry": 1,
    "count_words": True,
    "enable_wandb": False,
    "wandb_project": None,
}


@dataclass
class DownloadConfig:
    """Mirror of the reference API surface (names per `main.py:66-104`;
    the README documents nonexistent `file_list`/`file_col` params — the
    real ones are url_list/url_col, SURVEY §0)."""

    url_list: str
    output_folder: str = "documents"
    processes_count: int = 1            # no effect: Spark parallelism
    thread_count: int = 256             # fetch threads per Arrow batch
    number_sample_per_shard: int = 10_000
    input_format: str = "txt"
    url_col: str = "url"
    # defaults MATCH the reference (`main.py:70,87-88`) so a drop-in
    # migration calling download(url_list) gets the same page filtering
    # and the same sink with no surprises (round-14 verdict) — callers
    # wanting the engine-native analytics layout pass
    # output_format="parquet" explicitly, as the examples do
    output_format: str = "files"
    encode_format: str = "text"         # name of the text payload column
    save_additional_columns: list[str] | None = None
    timeout: int = 10
    retries: int = 0
    incremental_mode: str = "incremental"   # or "overwrite"
    max_shard_retry: int = 1
    user_agent_token: str | None = None
    disallowed_header_directives: list[str] | None = field(
        default_factory=lambda: ["noai", "noimageai", "noindex", "noimageindex"]
    )
    compute_hash: str | None = "sha256"
    verify_hash: tuple[str, str] | None = None   # (input column, hash type)
    min_words_per_page: int | None = 100
    max_images_per_page: int | None = 5
    min_image_size: int = 0
    max_aspect_ratio: float | None = None
    max_pages: int | None = None
    save_figures: bool = True
    get_language: bool = False
    get_drawings: bool = False
    count_words: bool = True
    extract_exif: bool = True
    oom_shard_count: int = 5
    oom_sample_per_shard: int = 5
    # T10: digits stripped only when BOTH remove_digits is on and figures
    # are off (reference `extractor.py:163-164`)
    remove_digits: bool = False
    # --- accepted-for-migration parity fields ------------------------------
    # The reference accepts these but its extractor never reads them
    # (vestigial img2dataset inheritance, `extractor.py:98-118` assigns
    # them and nothing else): kept so a migrating call site doesn't crash.
    max_image_area: float | None = None  # no-op in reference and here
    max_num_pages: int | None = None  # vestigial twin of max_pages
    disable_all_reencoding: bool = False  # no-op in reference and here
    # Execution-model fields subsumed by Spark itself: `distributor` and
    # `subjob_size` configured the reference's process pools
    # (`distributor.py`); Spark's scheduler + task retries replace them
    # (SURVEY P2/P5). Accepted and ignored, with a loud warning.
    distributor: str | None = None
    subjob_size: int | None = None
    # wandb telemetry is out of scope; metrics ride Observation (A5/D7)
    enable_wandb: bool = False
    wandb_project: str | None = None

    def validate(self) -> None:
        import warnings

        for name, default in IGNORED_PARITY_FIELDS.items():
            if getattr(self, name) != default:
                warnings.warn(
                    f"DownloadConfig.{name} is accepted for reference API "
                    "parity but has no effect here (see README 'API "
                    "parity')",
                    stacklevel=2,
                )
        if self.input_format not in INPUT_FORMATS:
            raise ValueError(f"unknown input_format {self.input_format!r}")
        if self.output_format not in OUTPUT_FORMATS:
            raise ValueError(f"unknown output_format {self.output_format!r}")
        if self.compute_hash is not None and self.compute_hash not in HASH_TYPES:
            raise ValueError(
                f"compute_hash must be one of {HASH_TYPES}, got {self.compute_hash!r}"
            )
        if self.verify_hash is not None:
            _, vh_type = self.verify_hash
            if vh_type not in HASH_TYPES:
                raise ValueError(
                    f"verify_hash type must be one of {HASH_TYPES}, got {vh_type!r}"
                )
        if self.incremental_mode not in ("incremental", "overwrite"):
            raise ValueError(f"unknown incremental_mode {self.incremental_mode!r}")
        for col in self.save_additional_columns or []:
            if col in RESERVED_COLUMNS:
                raise ValueError(
                    f"additional column {col!r} collides with a reserved "
                    f"output column (reserved: {', '.join(RESERVED_COLUMNS)})"
                )

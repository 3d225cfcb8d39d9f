"""Client facade: the reference's user entry point, in-process.

Mirrors `FeathrClient` (`/root/reference/feathr-rs/src/client.rs:24-142`,
Python surface `python/src/lib.rs` `load/loads/load_project/new_project/
wait_for_job/get_job_status/get_remote_url`): a YAML client config with
the reference's environment-variable override convention (any key
overridable via ``SECTION__SUBSECTION__KEY``, `feathr_config.yaml` header
comment), project construction, registry-backed project loading, and the
job-status vocabulary (`job_client/mod.rs:65-75`).

What changes in-process: there is no remote cluster, so "submitting a
job" IS running the DataFrame pipeline — jobs complete synchronously and
`wait_for_job` returns immediately with ``Success``. The
databricks/azure_synapse submission sections of the config are accepted
and ignored (documented divergence: Catalyst executes locally); the
``spark_config`` keys that describe the RESULT (e.g.
``spark_result_output_parts``) are honored.
"""

from __future__ import annotations

import os
from enum import Enum
from typing import Dict, Optional

from .project import FeathrProject


class JobStatus(str, Enum):
    """reference job_client/mod.rs:65-70."""
    STARTING = "Starting"
    RUNNING = "Running"
    SUCCESS = "Success"
    FAILED = "Failed"

    @property
    def is_ended(self) -> bool:
        # job_client/mod.rs:73-75
        return self in (JobStatus.SUCCESS, JobStatus.FAILED)


def _env_override(path: list, value):
    """The reference's layered override: ``A__B__C`` env var beats the
    config value at config[a][b][c] (feathr_config.yaml:4-8)."""
    env_key = "__".join(p.upper() for p in path)
    return os.environ.get(env_key, value)


def _resolve(cfg, path=()):
    if isinstance(cfg, dict):
        return {k: _resolve(v, path + (str(k),)) for k, v in cfg.items()}
    return _env_override(list(path), cfg)


class FeathrClient:
    """In-process client: config + project factory + job-status facade."""

    def __init__(self, config: Optional[dict] = None, spark=None,
                 secret_provider=None):
        from .varsource import new_var_source
        self.config = config or {}
        self.spark = spark
        # layered VarSource chain (var_source.rs:100-112): env var ->
        # secret provider (the KeyVault seam — any callable
        # ``provider(SECRET_NAME) -> Optional[str]``) -> yaml tree.
        # Lazy, per-lookup, like the reference; ``get`` below keeps the
        # eager env-resolved tree for structured (non-string) access.
        self.var_source = new_var_source(self.config, secret_provider)
        self._jobs: Dict[int, JobStatus] = {}
        self._next_job = 1

    # -- construction (lib.rs load/loads) -------------------------------
    @classmethod
    def load(cls, config_file: str, spark=None,
             secret_provider=None) -> "FeathrClient":
        with open(config_file, "r", encoding="utf-8") as f:
            return cls.loads(f.read(), spark=spark,
                             secret_provider=secret_provider)

    @classmethod
    def loads(cls, content: str, spark=None,
              secret_provider=None) -> "FeathrClient":
        import yaml
        raw = yaml.safe_load(content) or {}
        return cls(config=_resolve(raw), spark=spark,
                   secret_provider=secret_provider)

    # -- config access ---------------------------------------------------
    def get(self, *path, default=None):
        """Dotted config lookup over the env-resolved tree."""
        cur = self.config
        for p in path:
            if not isinstance(cur, dict) or p not in cur:
                return default
            cur = cur[p]
        return cur

    def get_var(self, *path, default=None):
        """Reference-precedence string lookup
        (VarSource::get_environment_variable, var_source.rs:100-112):
        live env var ``A__B__C`` beats the secret provider beats the
        yaml value. Use this for credentials/endpoints; use :meth:`get`
        for structured config subtrees."""
        v = self.var_source.get(path)
        return default if v is None else v

    @property
    def project_name(self) -> Optional[str]:
        return self.get("project_config", "project_name")

    @property
    def output_num_parts(self) -> Optional[int]:
        v = self.get("spark_config", "spark_result_output_parts")
        return int(v) if v is not None else None

    # -- projects --------------------------------------------------------
    def new_project(self, name: Optional[str] = None) -> FeathrProject:
        return FeathrProject(name or self.project_name or "feathr",
                             self.spark)

    def load_project_from_json(self, json_str: str) -> FeathrProject:
        """client.rs:45-48 — rebuild a project from a registry lineage
        payload (Atlas entity attributes, as the reference registry and
        this engine's ``save_project`` store them)."""
        from .configio import from_lineage
        return from_lineage(json_str, spark=self.spark)

    def load_project(self, registry, name: str) -> FeathrProject:
        """Registry-backed load (client.rs:36-43, minus the REST hop)."""
        from .registry.roundtrip import load_project
        return load_project(registry, name, self.spark)

    # -- job-status facade (job_client/mod.rs:159-181) -------------------
    def record_job(self, status: JobStatus = JobStatus.SUCCESS) -> int:
        """In-process pipelines run synchronously; callers that want the
        reference's submit/poll shape record a completed job and get an
        id back."""
        jid = self._next_job
        self._next_job += 1
        self._jobs[jid] = status
        return jid

    def get_job_status(self, job_id: int) -> JobStatus:
        try:
            return self._jobs[job_id]
        except KeyError:
            raise KeyError(f"unknown job id {job_id}") from None

    def wait_for_job(self, job_id: int, timeout_ms: Optional[int] = None
                     ) -> JobStatus:
        # no polling loop: in-process jobs are already ended
        return self.get_job_status(job_id)

    def wait_for_jobs(self, job_ids, timeout_ms: Optional[int] = None):
        return [self.wait_for_job(j) for j in job_ids]

    def get_remote_url(self, path: str) -> str:
        """job_client mod.rs:138 — in-process there is no remote staging
        store; the 'remote' url of a local artifact is itself."""
        return path if "://" in path else f"file://{os.path.abspath(path)}"

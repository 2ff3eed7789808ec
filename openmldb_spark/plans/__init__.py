"""Plans: DEPLOY (named feature queries) and request-mode evaluation."""

from openmldb_spark.plans.deploy import Deployment, deploy

__all__ = ["Deployment", "deploy"]

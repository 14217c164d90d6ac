"""Cloud source auth configuration (cloud.rs:30-500 parity).

No cloud in the sandbox — the unit under test is the Hadoop
configuration each auth mode must leave behind, which is exactly what
the connectors read at scan time.
"""

import json

import pytest

from term_spark.sources import configure_azure, configure_gcs, configure_s3


def hconf(spark):
    return spark.sparkContext._jsc.hadoopConfiguration()


def test_s3_access_key_with_sts(spark):
    configure_s3(spark, access_key="AK", secret_key="SK",
                 session_token="TOK", region="us-east-2")
    c = hconf(spark)
    assert c.get("fs.s3a.access.key") == "AK"
    assert c.get("fs.s3a.secret.key") == "SK"
    assert c.get("fs.s3a.session.token") == "TOK"
    assert "TemporaryAWSCredentialsProvider" in c.get(
        "fs.s3a.aws.credentials.provider")
    assert c.get("fs.s3a.endpoint.region") == "us-east-2"


def test_s3_profile(spark):
    configure_s3(spark, profile="analytics")
    assert "ProfileCredentialsProvider" in hconf(spark).get(
        "fs.s3a.aws.credentials.provider")


def test_s3_anonymous_and_exclusivity(spark):
    configure_s3(spark, anonymous=True)
    assert "AnonymousAWSCredentialsProvider" in hconf(spark).get(
        "fs.s3a.aws.credentials.provider")
    with pytest.raises(ValueError, match="ONE of"):
        configure_s3(spark, access_key="A", secret_key="S", anonymous=True)


def test_s3_assume_role(spark):
    configure_s3(spark, assume_role_arn="arn:aws:iam::123:role/reader")
    c = hconf(spark)
    assert c.get("fs.s3a.assumed.role.arn") == "arn:aws:iam::123:role/reader"
    assert "AssumedRoleCredentialProvider" in c.get(
        "fs.s3a.aws.credentials.provider")


def test_gcs_keyfile(spark):
    configure_gcs(spark, service_account_keyfile="/keys/sa.json")
    c = hconf(spark)
    assert c.get("google.cloud.auth.service.account.enable") == "true"
    assert c.get("google.cloud.auth.service.account.json.keyfile") == "/keys/sa.json"


def test_gcs_inline_json_lands_in_private_file(spark, monkeypatch):
    import atexit
    import os
    registered = []
    monkeypatch.setattr(atexit, "register",
                        lambda fn, *a, **kw: registered.append((fn, a, kw)))
    payload = {"type": "service_account", "project_id": "p"}
    configure_gcs(spark, service_account_json=json.dumps(payload))
    path = hconf(spark).get("google.cloud.auth.service.account.json.keyfile")
    assert path.endswith(".json")
    with open(path) as f:
        assert json.load(f) == payload
    assert (os.stat(path).st_mode & 0o777) == 0o600
    # the key is removed at interpreter exit: run that callback now
    assert len(registered) == 1
    fn, args, kwargs = registered[0]
    fn(*args, **kwargs)
    assert not os.path.exists(path)


def test_azure_access_key(spark):
    configure_azure(spark, "acct1", access_key="KEY")
    c = hconf(spark)
    assert c.get("fs.azure.account.auth.type.acct1.dfs.core.windows.net") == "SharedKey"
    assert c.get("fs.azure.account.key.acct1.dfs.core.windows.net") == "KEY"


def test_azure_sas(spark):
    configure_azure(spark, "acct2", sas_token="?sv=2024&sig=x")
    c = hconf(spark)
    assert c.get("fs.azure.account.auth.type.acct2.dfs.core.windows.net") == "SAS"
    assert c.get("fs.azure.sas.fixed.token.acct2.dfs.core.windows.net") == "sv=2024&sig=x"


def test_azure_oauth_client_secret(spark):
    configure_azure(spark, "acct3", client_id="cid", client_secret="cs",
                    tenant_id="tid")
    c = hconf(spark)
    h = "acct3.dfs.core.windows.net"
    assert c.get(f"fs.azure.account.auth.type.{h}") == "OAuth"
    assert c.get(f"fs.azure.account.oauth2.client.id.{h}") == "cid"
    assert "login.microsoftonline.com/tid" in c.get(
        f"fs.azure.account.oauth2.client.endpoint.{h}")
    with pytest.raises(ValueError, match="client auth needs"):
        configure_azure(spark, "acct4", client_id="cid")
    with pytest.raises(ValueError, match="ONE of"):
        configure_azure(spark, "acct5", access_key="k", sas_token="s")
